"""Lake time-travel / CDC inventory (versioned-table layer).

These queries exercise the FULL maintenance lifecycle of a versioned
lake table — create, MERGE upsert, copy-on-write DELETE, time-travel
reads of every historical snapshot, O(1) rollback, and the keyed
change feed between snapshots — through the differential oracle gate:
the DuckDB oracle recomputes every snapshot's state directly from the
``orders`` fixture, so a hash match proves each commit produced
exactly the rows the op contract promises AND that old versions stay
byte-stable while new ones land.

The reference has no transactional layer at all (plain parquet
re-uploads, ``run_me_first.py:83-100``; table formats listed as future
work in its ``README.md:190``) — this module verifies the minimal
object-store-safe protocol this repo adds (lake.py: immutable version
directories + one-pointer-write commits).

Hermeticity: each call rebuilds its table under a fresh /tmp scratch
dir, EAGERLY collects the (tiny) per-snapshot aggregates, removes the
scratch dir, and returns a local DataFrame with an explicit schema —
so repeated driver/bench runs never see each other's state. The heavy
work (anti-join, rewrites, snapshot scans) is all distributed; only
the few-row summary is collected, same as the fit steps elsewhere.
"""

from __future__ import annotations

import os
import shutil

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from quack_reduce_spark.inventory._util import load, rnd

_SCRATCH = "/tmp/quack_reduce_spark_roundtrip"

def _require(cond: bool, msg: str, *detail) -> None:
    """In-query invariant check that survives ``python -O`` (a bare
    assert would silently vanish and let a violated contract flow into
    the oracle comparison misattributed)."""
    if not cond:
        raise RuntimeError(f"{msg}: {detail}" if detail else msg)




def _fresh_dir(sf_dir: str, tag: str) -> str:
    """A genuinely private scratch dir per CALL (uuid suffix): two
    concurrent invocations — bench + a driver round, say — must never
    rmtree each other's live table mid-scan. The caller removes it
    before returning; the rmtree here only covers a crashed prior
    call's leftovers never being reused."""
    import uuid as _uuid

    path = os.path.join(
        _SCRATCH,
        os.path.basename(os.path.normpath(sf_dir)),
        f"{tag}_{_uuid.uuid4().hex[:10]}",
    )
    shutil.rmtree(path, ignore_errors=True)
    return path


def _build_versions(spark: SparkSession, sf_dir: str, path: str):
    """The shared three-commit scenario:

    - v1: orders with o_orderkey % 7 = 0
    - v2: MERGE upsert — existing keys % 21 = 0 get o_totalprice
      doubled (update), keys with % 7 = 3 AND % 5 = 0 are new
      (insert)
    - v3: copy-on-write DELETE of o_orderkey % 14 = 0
    """
    from quack_reduce_spark.engine import Engine

    eng = Engine(spark=spark)
    orders = load(spark, sf_dir, "orders")
    v1 = orders.filter(F.col("o_orderkey") % 7 == 0)
    eng.write_versioned(v1, path, op="create")

    updates = orders.filter(F.col("o_orderkey") % 21 == 0).withColumn(
        "o_totalprice", F.col("o_totalprice") * 2
    ).unionByName(
        orders.filter((F.col("o_orderkey") % 7 == 3) & (F.col("o_orderkey") % 5 == 0))
    )
    eng.merge_upsert(path, updates, key="o_orderkey")
    eng.delete_where(path, "o_orderkey % 14 = 0")
    return eng


_TT_SCHEMA = StructType(
    [
        StructField("snapshot", StringType(), False),
        StructField("n_rows", LongType(), False),
        StructField("sum_price", DoubleType(), False),
    ]
)


def lake_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-travel over a versioned table's full maintenance
    lifecycle: after create → merge_upsert → delete_where, read ALL
    THREE snapshots plus the post-ROLLBACK live table (pointer flipped
    back to v1 — O(1), no data movement) and aggregate each. The
    oracle recomputes every state from ``orders``, so the hash match
    proves (a) each commit's row-level contract, (b) historical
    versions are immutable under later commits, and (c) rollback
    restores v1 bit-exactly."""
    path = _fresh_dir(sf_dir, "lake_tt")
    eng = _build_versions(spark, sf_dir, path)

    def summarize(tag: str, df: DataFrame):
        row = df.agg(
            F.count(F.lit(1)).alias("n"),
            rnd(F.sum("o_totalprice"), 2).alias("s"),
        ).collect()[0]
        return (tag, int(row["n"]), float(row["s"]))

    rows = [
        summarize("v1", eng.read_table(path, 1)),
        summarize("v2", eng.read_table(path, 2)),
        summarize("v3", eng.read_table(path, 3)),
    ]
    _require(
        [h["op"] for h in eng.history(path)]
        == ["create", "merge_upsert", "delete"],
        "unexpected commit history",
    )
    eng.rollback(path, 1)
    rows.append(summarize("restored", eng.read_table(path)))
    shutil.rmtree(path, ignore_errors=True)
    return spark.createDataFrame(rows, _TT_SCHEMA)


_CDC_SCHEMA = StructType(
    [
        StructField("step", StringType(), False),
        StructField("change_type", StringType(), False),
        StructField("n", LongType(), False),
        StructField("sum_keys", LongType(), False),
    ]
)


def lake_change_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed change feed between committed snapshots (CDC-after-the-
    fact): v1→v2 must show exactly the merge's inserts and updates,
    v2→v3 exactly the delete's removals — classified by a full-outer
    join + exact null-safe whole-row comparison, summarized per change type
    with a key-sum so the oracle pins WHICH keys changed, not just how
    many."""
    path = _fresh_dir(sf_dir, "lake_cdc")
    eng = _build_versions(spark, sf_dir, path)

    def summarize(step: str, v_from: int, v_to: int):
        out = (
            eng.table_changes(path, v_from, v_to, key="o_orderkey")
            .groupBy("change_type")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum("o_orderkey").alias("sum_keys"),
            )
            .collect()
        )
        return [
            (step, r["change_type"], int(r["n"]), int(r["sum_keys"])) for r in out
        ]

    rows = summarize("v1_v2", 1, 2) + summarize("v2_v3", 2, 3)
    shutil.rmtree(path, ignore_errors=True)
    return spark.createDataFrame(rows, _CDC_SCHEMA)


_MV_SCHEMA = StructType(
    [
        StructField("o_orderstatus", StringType(), False),
        StructField("n_orders", LongType(), False),
        StructField("sum_price", DoubleType(), False),
    ]
)


def lake_incremental_mv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view maintenance off the CDC feed —
    the 100 TB pattern where recomputing an aggregate over the whole
    table per refresh is unaffordable: a per-status (count, sum)
    MV is built once over snapshot v1, then ADVANCED TO v3 by applying
    only the change feed (insert → +new, delete → −old, update →
    −old +new), never rescanning unchanged rows. The in-query
    cross-check asserts the incrementally-maintained MV equals a full
    recompute over v3 (float sums compared to 1e-6); the oracle then
    hash-matches the result against DuckDB's direct aggregate of the
    v3 state — so BOTH the delta algebra and the change feed it
    consumes are verified end to end."""
    path = _fresh_dir(sf_dir, "lake_mv")
    eng = _build_versions(spark, sf_dir, path)

    mv = (
        eng.read_table(path, 1)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("o_totalprice").alias("sum_price"),
        )
    )
    ch = eng.table_changes(
        path, 1, 3, key="o_orderkey", payload=["o_orderstatus", "o_totalprice"]
    )
    # each change row contributes up to two signed deltas
    minus = ch.filter(F.col("change_type").isin("delete", "update")).select(
        F.col("old_o_orderstatus").alias("o_orderstatus"),
        F.lit(-1).alias("dn"),
        (-F.col("old_o_totalprice")).alias("dp"),
    )
    plus = ch.filter(F.col("change_type").isin("insert", "update")).select(
        F.col("new_o_orderstatus").alias("o_orderstatus"),
        F.lit(1).alias("dn"),
        F.col("new_o_totalprice").alias("dp"),
    )
    deltas = (
        minus.unionByName(plus)
        .groupBy("o_orderstatus")
        .agg(F.sum("dn").alias("dn"), F.sum("dp").alias("dp"))
    )
    refreshed = (
        mv.join(deltas, "o_orderstatus", "full_outer")
        .select(
            "o_orderstatus",
            (F.coalesce(F.col("n_orders"), F.lit(0)) + F.coalesce(F.col("dn"), F.lit(0))).alias("n_orders"),
            (F.coalesce(F.col("sum_price"), F.lit(0.0)) + F.coalesce(F.col("dp"), F.lit(0.0))).alias("sum_price"),
        )
        .filter(F.col("n_orders") > 0)
    )
    got = {
        r["o_orderstatus"]: (int(r["n_orders"]), float(r["sum_price"]))
        for r in refreshed.collect()
    }
    want = {
        r["o_orderstatus"]: (int(r["n"]), float(r["s"]))
        for r in eng.read_table(path, 3)
        .groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("o_totalprice").alias("s"))
        .collect()
    }
    _require(set(got) == set(want), "MV key sets diverge", got, want)
    for k in want:
        _require(got[k][0] == want[k][0], "MV count diverges", k, got[k], want[k])
        _require(
            abs(got[k][1] - want[k][1]) < 1e-6 * max(1.0, abs(want[k][1])),
            "MV sum diverges", k, got[k], want[k],
        )
    shutil.rmtree(path, ignore_errors=True)
    # emit the RECOMPUTED sums (identical to the incremental ones to
    # float tolerance, asserted above) so the oracle hash is immune to
    # the engines' differing summation orders; same floor-half-up
    # rounding as functions.numeric.rnd / the oracle SQL
    import math

    rows = [
        (k, want[k][0], math.floor(want[k][1] * 100 + 0.5) / 100) for k in sorted(want)
    ]
    return spark.createDataFrame(rows, _MV_SCHEMA)


_SE_SCHEMA = StructType(
    [
        StructField("priority_flag", StringType(), True),
        StructField("n_rows", LongType(), False),
        StructField("sum_price", DoubleType(), False),
        StructField("n_columns", LongType(), False),
    ]
)


def lake_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE with automatic schema evolution: v1 is a 3-column orders
    projection; the update batch carries a NEW ``priority_flag``
    column (plus doubled prices on existing keys and brand-new keys).
    ``merge_upsert(evolve_schema=True)`` widens the table — surviving
    v1 rows read back with NULL in the new column, update rows carry
    their flag, and the pre-evolution snapshot stays 3-column. The
    oracle rebuilds the evolved state from ``orders``, so the hash
    match proves the Delta-mergeSchema contract (NULL backfill, no row
    loss, new keys inserted) held through the copy-on-write commit.
    Also asserts the strict default REJECTS the widening (the typo
    guard) and that v1's snapshot schema is untouched."""
    from quack_reduce_spark.engine import Engine

    path = _fresh_dir(sf_dir, "lake_se")
    eng = Engine(spark=spark)
    orders = load(spark, sf_dir, "orders")
    base = orders.select("o_orderkey", "o_custkey", "o_totalprice")
    eng.write_versioned(base.filter(F.col("o_orderkey") % 7 == 0), path, op="create")

    upd = (
        orders.filter(F.col("o_orderkey") % 21 == 0)
        .select(
            "o_orderkey",
            "o_custkey",
            (F.col("o_totalprice") * 2).alias("o_totalprice"),
            F.substring("o_orderpriority", 1, 1).alias("priority_flag"),
        )
        .unionByName(
            orders.filter(
                (F.col("o_orderkey") % 7 == 3) & (F.col("o_orderkey") % 5 == 0)
            ).select(
                "o_orderkey",
                "o_custkey",
                (F.col("o_totalprice")).alias("o_totalprice"),
                F.substring("o_orderpriority", 1, 1).alias("priority_flag"),
            )
        )
    )
    try:
        eng.merge_upsert(path, upd, key="o_orderkey")
        raise AssertionError("strict merge must reject unknown columns")
    except ValueError:
        pass
    eng.merge_upsert(path, upd, key="o_orderkey", evolve_schema=True)

    _require(
        len(eng.read_table(path, 1).columns) == 3,
        "pre-evolution snapshot schema must stay 3-column",
    )
    evolved = eng.read_table(path)
    n_cols = len(evolved.columns)
    rows = [
        (
            r["priority_flag"],
            int(r["n"]),
            float(r["s"]),
            n_cols,
        )
        for r in evolved.groupBy("priority_flag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            rnd(F.sum("o_totalprice"), 2).alias("s"),
        )
        .collect()
    ]
    shutil.rmtree(path, ignore_errors=True)
    return spark.createDataFrame(rows, _SE_SCHEMA)


_ZM_SCHEMA = StructType(
    [
        StructField("o_orderstatus", StringType(), False),
        StructField("n_orders", LongType(), False),
        StructField("sum_price", DoubleType(), False),
    ]
)


def lake_zonemap_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-level zone-map data skipping (operators/zonemaps.py): the
    orders table is laid out clustered by ``o_orderdate`` (12 files,
    ``repartitionByRange`` + sort-within — tight per-file date
    ranges), a min/max stats manifest is written once, and a one-year
    range query plans from the MANIFEST, reading only the files whose
    ``[min, max]`` interval intersects 1997 — the Iceberg/Delta
    stats-pruning mechanism on plain parquet. Two gates: the in-query
    ``_require`` proves skipping actually happened (≤ half the files
    read — at 100 TB this is the difference between scanning ~1/7 of
    the table and all of it), and the DuckDB oracle recomputes the
    aggregate from the RAW fixture with a plain WHERE, so a hash
    match proves the pruned scan lost and invented nothing."""
    from quack_reduce_spark.operators import zonemaps as Z

    path = _fresh_dir(sf_dir, "lake_zm")
    orders = load(spark, sf_dir, "orders")
    (
        orders.repartitionByRange(12, "o_orderdate")
        .sortWithinPartitions("o_orderdate")
        .write.mode("overwrite")
        .parquet(path)
    )
    Z.write_zonemap(spark, path, ["o_orderdate"])
    import datetime as dt

    pruned, files_read, files_total = Z.scan_pruned(
        spark, path, "o_orderdate",
        dt.datetime(1997, 1, 1), dt.datetime(1997, 12, 31),
    )
    _require(
        files_read * 2 <= files_total,
        "zone map failed to skip files", files_read, files_total,
    )
    rows = [
        (r["o_orderstatus"], int(r["n"]), float(r["s"]))
        for r in pruned.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            rnd(F.sum("o_totalprice"), 2).alias("s"),
        )
        .collect()
    ]
    shutil.rmtree(path, ignore_errors=True)
    return spark.createDataFrame(rows, _ZM_SCHEMA)


def lake_zonemap_sql_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone-map skipping wired into the ENGINE's SQL surface (the
    round-10 step past lake_zonemap_skipping's explicit scan_pruned
    call): the user writes plain SQL against a registered table —
    the reference's entire UX, ``app.py:51`` — and Engine.df/sql
    detect the range predicate in the query's own physical plan
    (FileSourceScanExec dataFilters, plans/zonemap_pushdown.py),
    consult the manifest, and re-plan the scan over only the files
    whose [min, max] can intersect. Two gates: the in-query
    ``_require`` proves the ENGINE pruned (files_read ≤ half, from
    ``last_zonemap_report`` — not an explicit operator call), and the
    DuckDB oracle recomputes the aggregate from the raw fixture with
    a plain WHERE, so a hash match proves automatic pruning lost and
    invented nothing."""
    import datetime as dt  # noqa: F401  (parity with sibling key)
    import uuid as _uuid

    from quack_reduce_spark.engine import Engine
    from quack_reduce_spark.operators import zonemaps as Z

    path = _fresh_dir(sf_dir, "lake_zmsql")
    orders = load(spark, sf_dir, "orders")
    (
        orders.repartitionByRange(12, "o_orderdate")
        .sortWithinPartitions("o_orderdate")
        .write.mode("overwrite")
        .parquet(path)
    )
    Z.write_zonemap(spark, path, ["o_orderdate"])
    eng = Engine(spark=spark)
    view = f"zmsql_{_uuid.uuid4().hex[:8]}"  # collision-safe under bursts
    eng.register(view, path)
    planned = eng.df(
        f"SELECT o_orderstatus,"
        f"       COUNT(*) AS n_orders,"
        f"       FLOOR(SUM(o_totalprice) * 100 + 0.5) / 100 AS sum_price"
        f" FROM {view}"
        f" WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'"
        f"   AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'"
        f" GROUP BY o_orderstatus"
    )
    rows = [
        (r["o_orderstatus"], int(r["n_orders"]), float(r["sum_price"]))
        for r in planned.collect()
    ]
    report = eng.last_zonemap_report.get(view)
    _require(report is not None, "engine did not plan from the zone map")
    _require(
        report["files_read"] * 2 <= report["files_total"],
        "engine-planned scan failed to skip files",
        report,
    )
    spark.catalog.dropTempView(view)
    shutil.rmtree(path, ignore_errors=True)
    return spark.createDataFrame(rows, _ZM_SCHEMA)


IN_DATES = ["1993-03-15", "1994-07-01", "1996-11-22", "1998-01-05"]


def lake_zonemap_in_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IN-list zone-map pushdown through the engine (round 11): a
    plain ``o_orderdate IN (d1..d4)`` SQL query over a date-clustered
    registered table plans as a VALUE SET — each file survives only
    if SOME listed value can sit inside its [min, max] — which on a
    range-clustered layout reads at most #values files where the
    IN-list's [min, max] ENVELOPE would read nearly everything
    between d1 and d4 (plans/zonemap_pushdown.py extracts Catalyst's
    ``In`` conjuncts, unwrapping the NTZ-to-LTZ cast Catalyst leaves
    around the attribute). Gates: in-query ``_require`` proves the
    engine read <= len(IN_DATES) files of 12; the DuckDB oracle
    recomputes the aggregate from the raw fixture with the same IN,
    so the hash match proves value-set pruning lost and invented
    nothing."""
    import uuid as _uuid

    from quack_reduce_spark.engine import Engine
    from quack_reduce_spark.operators import zonemaps as Z

    path = _fresh_dir(sf_dir, "lake_zmin")
    orders = load(spark, sf_dir, "orders")
    (
        orders.repartitionByRange(12, "o_orderdate")
        .sortWithinPartitions("o_orderdate")
        .write.mode("overwrite")
        .parquet(path)
    )
    Z.write_zonemap(spark, path, ["o_orderdate"])
    eng = Engine(spark=spark)
    view = f"zmin_{_uuid.uuid4().hex[:8]}"
    eng.register(view, path)
    in_list = ", ".join(f"TIMESTAMP '{d} 00:00:00'" for d in IN_DATES)
    planned = eng.df(
        f"SELECT o_orderstatus,"
        f"       COUNT(*) AS n_orders,"
        f"       FLOOR(SUM(o_totalprice) * 100 + 0.5) / 100 AS sum_price"
        f" FROM {view}"
        f" WHERE o_orderdate IN ({in_list})"
        f" GROUP BY o_orderstatus"
    )
    rows = [
        (r["o_orderstatus"], int(r["n_orders"]), float(r["sum_price"]))
        for r in planned.collect()
    ]
    report = eng.last_zonemap_report.get(view)
    _require(report is not None, "engine did not plan from the zone map")
    _require(
        report["files_read"] <= len(IN_DATES) < report["files_total"],
        "IN-list pruning failed to plan by value set",
        report,
    )
    spark.catalog.dropTempView(view)
    shutil.rmtree(path, ignore_errors=True)
    return spark.createDataFrame(rows, _ZM_SCHEMA)


def lake_manifest_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE from the manifest, differentially proven (round 11):
    ``Engine.table_stats`` reads table-level statistics — row count,
    per-column min/max/null-count — straight from the zone-map
    manifest at metadata cost (zero data scanned; the engine pruned
    the scan entirely), and the DuckDB oracle RECOMPUTES the same
    numbers from the raw fixture rows, so the hash match proves the
    manifest's stats are exact, not estimates. This is the stats
    surface a cost-based planner consults (Iceberg table metrics /
    Delta stats readers); staleness is guarded elsewhere (the pushdown
    compares manifest file counts against the live listing before
    trusting them). Stats cover one timestamp and one double column to
    exercise both codecs."""
    import uuid as _uuid

    from quack_reduce_spark.engine import Engine
    from quack_reduce_spark.operators import zonemaps as Z

    path = _fresh_dir(sf_dir, "lake_zmstats")
    orders = load(spark, sf_dir, "orders")
    (
        orders.repartitionByRange(8, "o_orderdate")
        .sortWithinPartitions("o_orderdate")
        .write.mode("overwrite")
        .parquet(path)
    )
    Z.write_zonemap(spark, path, ["o_orderdate", "o_totalprice"])
    eng = Engine(spark=spark)
    view = f"zmstats_{_uuid.uuid4().hex[:8]}"
    eng.register(view, path)
    st = eng.table_stats(view)
    _require(st["n_files"] >= 8, "expected a multi-file layout", st)
    d, p = st["columns"]["o_orderdate"], st["columns"]["o_totalprice"]
    rows = [(
        int(st["n_rows"]),
        d["min"], d["max"], int(d["nulls"]),
        float(p["min"]), float(p["max"]), int(p["nulls"]),
    )]
    spark.catalog.dropTempView(view)
    shutil.rmtree(path, ignore_errors=True)
    return spark.createDataFrame(
        rows,
        "n_rows long, min_date timestamp, max_date timestamp, "
        "null_dates long, min_price double, max_price double, "
        "null_prices long",
    )


def lake_dpp_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A star query whose ONLY predicate sits on the dim side — a
    NON-key column (``c_name LIKE ...``), so Catalyst infers no
    fact-side constraint — over a custkey-clustered, zone-mapped fact,
    through ``Engine.df``. It runs on Spark's native plan (every fact
    file is read; AQE picks the join strategy); the key is
    kept as differential coverage of that engine path. The DuckDB
    oracle recomputes the join from the raw fixtures with a plain
    WHERE."""
    import uuid as _uuid

    from quack_reduce_spark.engine import Engine
    from quack_reduce_spark.operators import zonemaps as Z

    path = _fresh_dir(sf_dir, "lake_dpp")
    orders = load(spark, sf_dir, "orders")
    (
        orders.repartitionByRange(12, "o_custkey")
        .sortWithinPartitions("o_custkey")
        .write.mode("overwrite")
        .parquet(path)
    )
    Z.write_zonemap(spark, path, ["o_custkey"])
    eng = Engine(spark=spark)
    tag = _uuid.uuid4().hex[:8]
    fact, dim = f"dppf_{tag}", f"dppd_{tag}"
    eng.register(fact, path)
    eng.register(dim, f"{sf_dir.rstrip('/')}/customer.parquet")
    planned = eng.df(
        f"SELECT o_orderstatus,"
        f"       COUNT(*) AS n_orders,"
        f"       FLOOR(SUM(o_totalprice) * 100 + 0.5) / 100 AS sum_price"
        f" FROM {fact} JOIN {dim} ON o_custkey = c_custkey"
        f" WHERE c_name LIKE 'Customer#00000000%'"
        f" GROUP BY o_orderstatus"
    )
    rows = [
        (r["o_orderstatus"], int(r["n_orders"]), float(r["sum_price"]))
        for r in planned.collect()
    ]
    for v in (fact, dim):
        spark.catalog.dropTempView(v)
    shutil.rmtree(path, ignore_errors=True)
    return spark.createDataFrame(rows, _ZM_SCHEMA)


def lake_bloom_pointlookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-file Bloom fingerprints (round 12): a point/IN lookup on a
    column the table is NOT clustered by — every file's [min, max]
    spans the whole key domain (the layout is hash-partitioned on a
    different column), so envelope stats prune nothing — still skips
    most files: ``write_zonemap(..., bloom_cols=...)`` stores a dense
    per-file Bloom bitset (the Parquet-column-bloom / Iceberg-puffin
    shape on plain parquet; built with the sketches module's
    enhanced-double-hashing positions, ONE md5 per row) and the
    engine's SQL pushdown probes it DRIVER-SIDE at plan time —
    hashlib.md5 reproduces Spark's ``md5(cast(c as string))`` exactly,
    so planning runs zero Spark jobs. The three probe keys are the
    rank-1 / median / rank-n order keys, chosen by the same rule in
    the DuckDB oracle, which recomputes the lookup over the raw
    fixture — the hash match proves fingerprint skipping lost no rows
    (no false negatives) and invented none."""
    import uuid as _uuid

    from pyspark.sql import Window

    from quack_reduce_spark.engine import Engine
    from quack_reduce_spark.operators import zonemaps as Z

    path = _fresh_dir(sf_dir, "lake_bloom")
    orders = load(spark, sf_dir, "orders")
    orders.repartition(12, "o_custkey").write.mode("overwrite").parquet(path)
    Z.write_zonemap(spark, path, ["o_orderkey"], bloom_cols=["o_orderkey"])
    kdf = spark.read.parquet(path).select("o_orderkey")
    n = kdf.count()
    ranked = kdf.withColumn(
        "rn", F.row_number().over(Window.orderBy("o_orderkey"))
    )
    ks = sorted(
        r["o_orderkey"]
        for r in ranked.where(F.col("rn").isin(1, (n + 1) // 2, n)).collect()
    )
    eng = Engine(spark=spark)
    tag = _uuid.uuid4().hex[:8]
    t = f"blm_{tag}"
    eng.register(t, path)
    d = eng.df(
        f"SELECT o_orderkey, o_orderstatus,"
        f"       FLOOR(o_totalprice * 100 + 0.5) / 100 AS price"
        f" FROM {t}"
        f" WHERE o_orderkey IN ({', '.join(str(k) for k in ks)})"
        f" ORDER BY o_orderkey"
    )
    rows = [
        (int(r["o_orderkey"]), r["o_orderstatus"], float(r["price"]))
        for r in d.collect()
    ]
    rep = eng.last_zonemap_report.get(t)
    _require(rep is not None, "engine did not plan from the zone map")
    _require(
        rep["files_read"] * 2 <= rep["files_total"] == 12,
        "bloom fingerprints failed to skip files on the random layout",
        rep,
    )
    spark.catalog.dropTempView(t)
    shutil.rmtree(path, ignore_errors=True)
    return spark.createDataFrame(rows, _BLOOM_SCHEMA)


_BLOOM_SCHEMA = StructType(
    [
        StructField("o_orderkey", LongType()),
        StructField("o_orderstatus", StringType()),
        StructField("price", DoubleType()),
    ]
)


def lake_histogram_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Manifest equi-depth histogram (round 12): ``write_zonemap(...,
    hist_cols=...)`` stores ``bins + 1`` EXACT quantile boundaries per
    column in the manifest list — the metadata a CBO's range-
    selectivity estimator consults (``Engine.explain_join`` sizes a
    FILTERED join side as manifest rows x histogram selectivity, no
    counting scan; the exact blind spot of Spark's size-only stats,
    where Filter passes sizeInBytes through). Spark's ``F.percentile``
    and DuckDB's ``quantile_cont`` share the linear-interpolation
    definition, so the DuckDB oracle recomputes the identical 9
    boundaries from the raw fixture — the hash match proves the stats
    surface EXACT, not approximate. In-query gates prove the consumer
    loop: explain_join reports ``source: "histogram"`` for a filtered
    side with ZERO new ANALYZE scans, and its estimate lands within
    20% of the true slice (checked against one count here, where the
    fixture is small)."""
    import math as _math

    from quack_reduce_spark.engine import ANALYZE_COUNTS, Engine
    from quack_reduce_spark.operators import zonemaps as Z

    path = _fresh_dir(sf_dir, "lake_hist")
    orders = load(spark, sf_dir, "orders")
    orders.repartition(6).write.mode("overwrite").parquet(path)
    Z.write_zonemap(
        spark, path, ["o_totalprice"], hist_cols=["o_totalprice"], hist_bins=8
    )
    hist = Z.manifest_hist(path)["o_totalprice"]
    bounds = hist["bounds"]
    _require(len(bounds) == 9, "expected 9 boundaries for 8 bins", hist)
    eng = Engine(spark=spark)
    import uuid as _uuid

    t = f"hst_{_uuid.uuid4().hex[:8]}"
    eng.register(t, path)
    cut = bounds[2]  # the exact 25% quantile: true selectivity ~0.25
    filtered = spark.table(t).filter(F.col("o_totalprice") <= cut)
    before = ANALYZE_COUNTS["side_scans"]
    li = load(spark, sf_dir, "lineitem").withColumnRenamed(
        "l_orderkey", "o_orderkey"
    )
    rep = eng.explain_join(filtered, li, "o_orderkey")
    _require(
        rep["left"]["source"] == "histogram",
        "filtered side was not sized from the histogram", rep["left"],
    )
    _require(
        ANALYZE_COUNTS["side_scans"] - before <= 1,  # right side only
        "histogram side still ran an ANALYZE scan",
    )
    actual = filtered.count()
    est = rep["left"]["rows"]
    _require(
        abs(est - actual) <= max(2, 0.2 * actual),
        f"histogram estimate {est} vs actual {actual}",
    )
    spark.catalog.dropTempView(t)
    shutil.rmtree(path, ignore_errors=True)
    rows = [
        (i, _math.floor(b * 1_000_000 + 0.5) / 1_000_000)
        for i, b in enumerate(bounds)
    ]
    return spark.createDataFrame(rows, _HIST_SCHEMA)


_HIST_SCHEMA = StructType(
    [
        StructField("bin", LongType()),
        StructField("boundary", DoubleType()),
    ]
)


def lake_ndv_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Manifest NDV sketches (round 12): ``write_zonemap(...,
    ndv_cols=...)`` stores a PER-FILE HLL register set (p=8, the same
    portable register math `sketch_hll_estimate` hash-proves) in the
    manifest; register max is associative, so merging any file
    subset's rows is exactly that subset's sketch — the manifest
    answers table- AND slice-level DISTINCT counts at metadata cost
    (the Iceberg theta-sketch/puffin shape on plain parquet), and
    ``Engine.explain_join`` estimates join cardinality from two such
    manifests with ZERO data passes (``join_est_source: "ndv"``,
    System-R containment |L|x|R|/max ndv). The DuckDB oracle rebuilds
    the registers directly from the raw fixture and applies the
    identical estimator arithmetic — a hash match proves the per-file
    merge lost nothing vs a direct global build. In-query gates prove
    the consumer loop: a self-join estimate from two register-carrying
    manifests lands within 25% of the true join size without
    executing a sample."""
    import uuid as _uuid

    from quack_reduce_spark.engine import Engine
    from quack_reduce_spark.operators import zonemaps as Z
    from quack_reduce_spark.operators.sketches import HLL_M

    path = _fresh_dir(sf_dir, "lake_ndv")
    orders = load(spark, sf_dir, "orders")
    orders.repartition(6).write.mode("overwrite").parquet(path)
    Z.write_zonemap(spark, path, ["o_custkey"], ndv_cols=["o_custkey"])
    got = Z.manifest_ndv(spark, path, "o_custkey")
    _require(got is not None, "manifest carries no registers")
    est = got["est"]
    exact = int(orders.agg(F.count_distinct("o_custkey")).first()[0])
    # consumer gate: two register-carrying manifests -> a join-size
    # estimate with zero data passes, within 25% of the truth
    eng = Engine(spark=spark)
    tag = _uuid.uuid4().hex[:8]
    a, b = f"ndva_{tag}", f"ndvb_{tag}"
    eng.register(a, path)
    eng.register(b, path)
    rep = eng.explain_join(a, b, "o_custkey")
    _require(
        rep["join_est_source"] == "ndv" and rep["n_common_sampled"] is None,
        "join estimate did not come from manifest registers", rep,
    )
    true_join = (
        spark.read.parquet(path)
        .groupBy("o_custkey")
        .count()
        .agg(F.sum(F.col("count") * F.col("count")))
        .first()[0]
    )
    _require(
        abs(rep["est_join_rows"] - true_join) <= 0.25 * true_join,
        f"ndv join estimate {rep['est_join_rows']} vs true {true_join}",
    )
    for v in (a, b):
        spark.catalog.dropTempView(v)
    shutil.rmtree(path, ignore_errors=True)

    def _rnd4(x: float) -> float:
        import math as _math

        return _math.floor(x * 10_000 + 0.5) / 10_000

    return spark.createDataFrame(
        [
            (
                HLL_M,
                int(got["nonzero"]),
                _rnd4(est),
                exact,
                _rnd4(abs(est - exact) / exact),
            )
        ],
        _NDV_SCHEMA,
    )


_NDV_SCHEMA = StructType(
    [
        StructField("m", LongType()),
        StructField("regs_nonzero", LongType()),
        StructField("est_custs", DoubleType()),
        StructField("exact_custs", LongType()),
        StructField("rel_err", DoubleType()),
    ]
)


def lake_count_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata count (round 12): ``Engine.count_where`` answers
    ``COUNT(*) WHERE <range>`` mostly from the manifest — files whose
    per-file stats PROVE every row matches (min >= lo, max <= hi, zero
    nulls) contribute their exact n_rows without being read, and only
    the BOUNDARY files are scanned with the residual predicate (the
    Iceberg/Delta metadata-count shape on plain parquet; on a
    clustered layout a range count reads O(1) boundary files no matter
    how wide the range). In-query gates prove the shape: a 3.5-year
    range over a 12-file date-clustered table scans <= 3 boundary
    files with >= 3 counted wholly from metadata, and the no-predicate
    count scans ZERO files. The DuckDB oracle recomputes both counts
    from the raw fixture — the hash match proves the metadata rows and
    the residual scan compose to the exact answer."""
    import datetime as _dt
    import uuid as _uuid

    from quack_reduce_spark.engine import Engine
    from quack_reduce_spark.operators import zonemaps as Z

    path = _fresh_dir(sf_dir, "lake_count")
    orders = load(spark, sf_dir, "orders")
    (
        orders.repartitionByRange(12, "o_orderdate")
        .sortWithinPartitions("o_orderdate")
        .write.mode("overwrite")
        .parquet(path)
    )
    Z.write_zonemap(spark, path, ["o_orderdate"])
    eng = Engine(spark=spark)
    t = f"cnt_{_uuid.uuid4().hex[:8]}"
    eng.register(t, path)
    n_range = eng.count_where(
        t,
        {
            "o_orderdate": (
                _dt.datetime(1996, 1, 1),
                _dt.datetime(1999, 6, 30),
            )
        },
    )
    plan = eng.last_count_plan
    _require(
        plan.get("source") == "metadata+residual",
        "range count did not plan from the manifest", plan,
    )
    _require(
        plan["files_scanned"] <= 3 and plan["files_contained"] >= 3,
        "range count failed to answer mostly from metadata", plan,
    )
    n_total = eng.count_where(t)
    _require(
        eng.last_count_plan["files_scanned"] == 0,
        "full count read data files", eng.last_count_plan,
    )
    spark.catalog.dropTempView(t)
    shutil.rmtree(path, ignore_errors=True)
    return spark.createDataFrame(
        [(int(n_range), int(n_total))],
        StructType(
            [StructField("n_range", LongType()), StructField("n_total", LongType())]
        ),
    )


def lake_sql_agg_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata aggregate pushdown ON THE SQL SURFACE (round 13): the
    reference dashboard's per-widget ``SELECT COUNT(*) .. WHERE range``
    (``dashboard.py:37-39``) issued through ``Engine.sql``/``df`` is
    detected in the engine's own optimized plan and answered from the
    zone-map manifest — files whose per-file stats PROVE every row
    matches contribute exact partials (n_rows, n_rows - nulls, min,
    max) without being read; only boundary files are scanned with the
    exact residual predicate. In-query gates prove the shape: the
    3.5-year range aggregate over a 12-file date-clustered table scans
    <= 3 boundary files with >= 3 contained, and the whole-table
    COUNT/MIN/MAX compiles to a plan with NO file scan node at all
    (zero data files read). The DuckDB oracle recomputes all seven
    values from the raw fixture — a hash match proves the metadata
    partials and the residual compose to the exact answer."""
    import uuid as _uuid

    from pyspark.sql.types import TimestampNTZType

    from quack_reduce_spark.engine import Engine
    from quack_reduce_spark.operators import zonemaps as Z

    path = _fresh_dir(sf_dir, "lake_sqlagg")
    orders = load(spark, sf_dir, "orders")
    (
        orders.repartitionByRange(12, "o_orderdate")
        .sortWithinPartitions("o_orderdate")
        .write.mode("overwrite")
        .parquet(path)
    )
    Z.write_zonemap(spark, path, ["o_orderdate", "o_totalprice", "o_orderkey"])
    eng = Engine(spark=spark)
    t = f"sqlagg_{_uuid.uuid4().hex[:8]}"
    eng.register(t, path)
    r1 = eng.df(
        f"SELECT COUNT(*) AS n_range, MIN(o_totalprice) AS mn_price, "
        f"MAX(o_totalprice) AS mx_price, COUNT(o_totalprice) AS n_price, "
        f"SUM(o_orderkey) AS sum_key, AVG(o_orderkey) AS avg_key "
        f"FROM {t} WHERE o_orderdate >= TIMESTAMP '1996-01-01' "
        f"AND o_orderdate < TIMESTAMP '1999-07-01'"
    ).first()
    plan = eng.last_agg_plan
    _require(
        plan is not None
        and plan["files_contained"] >= 3
        and plan["files_scanned"] <= 3,
        "range aggregate did not answer mostly from metadata", plan,
    )
    d2 = eng.df(
        f"SELECT COUNT(*) AS n_total, MIN(o_orderdate) AS mn_date, "
        f"MAX(o_orderdate) AS mx_date FROM {t}"
    )
    _require(
        eng.last_agg_plan is not None
        and eng.last_agg_plan["files_scanned"] == 0,
        "whole-table aggregate scheduled file scans", eng.last_agg_plan,
    )
    phys = d2._jdf.queryExecution().executedPlan().toString()
    _require(
        "FileScan" not in phys and "Scan parquet" not in phys,
        "whole-table aggregate plan contains a file scan",
    )
    r2 = d2.first()
    spark.catalog.dropTempView(t)
    shutil.rmtree(path, ignore_errors=True)
    return spark.createDataFrame(
        [(
            int(r1["n_range"]), float(r1["mn_price"]), float(r1["mx_price"]),
            int(r1["n_price"]), int(r1["sum_key"]), float(r1["avg_key"]),
            int(r2["n_total"]), r2["mn_date"], r2["mx_date"],
        )],
        StructType([
            StructField("n_range", LongType()),
            StructField("mn_price", DoubleType()),
            StructField("mx_price", DoubleType()),
            StructField("n_price", LongType()),
            StructField("sum_key", LongType()),
            StructField("avg_key", DoubleType()),
            StructField("n_total", LongType()),
            StructField("mn_date", TimestampNTZType()),
            StructField("mx_date", TimestampNTZType()),
        ]),
    )


def lake_mv_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized-view TRANSPARENT REWRITE (round 13): the reference
    dashboard re-runs identical aggregates per widget refresh
    (``dashboard.py:37-39``); the warehouse answer is to materialize
    the grouped partials once and rewrite matching queries over the
    tiny MV (plans/mv_rewrite.py — the Calcite/Snowflake MV-rewrite
    shape). In-query gates prove the mechanism end to end: the grouped
    COUNT/SUM/AVG query and the scalar MIN/MAX/COUNT-with-group-
    predicate both REWRITE (telemetry present, physical plan reads
    only the MV), an append makes the next query DECLINE (snapshot
    mismatch — stale rewrites are impossible by construction), and
    after re-register + refresh the rewrite resumes over the appended
    state. The DuckDB oracle recomputes every value from the raw
    fixture (the appended state replayed as a UNION ALL), so a hash
    match proves the rewrites, the staleness gate, and the refresh all
    produce exactly the plain answers."""
    import uuid as _uuid

    from quack_reduce_spark.engine import Engine

    src = _fresh_dir(sf_dir, "lake_mvq_src")
    mvp = _fresh_dir(sf_dir, "lake_mvq_mv")
    orders = load(spark, sf_dir, "orders")
    orders.write.mode("overwrite").parquet(src)
    eng = Engine(spark=spark)
    t = f"mvq_{_uuid.uuid4().hex[:8]}"
    eng.register(t, src)
    eng.create_materialized_view(
        f"{t}_mv",
        f"SELECT o_orderstatus, COUNT(*) AS n, SUM(o_orderkey) AS s, "
        f"COUNT(o_orderkey) AS nk, MIN(o_orderkey) AS mn, "
        f"MAX(o_orderkey) AS mx FROM {t} GROUP BY o_orderstatus",
        mvp,
    )
    d1 = eng.df(
        f"SELECT o_orderstatus AS st, COUNT(*) AS n, "
        f"SUM(o_orderkey) AS sum_key, AVG(o_orderkey) AS avg_key "
        f"FROM {t} GROUP BY o_orderstatus"
    )
    _require(
        eng.last_mv_rewrite is not None and eng.last_mv_rewrite["grouped"],
        "grouped aggregate did not rewrite over the MV",
        eng.last_mv_rewrite,
    )
    in_files = d1.inputFiles()
    _require(
        bool(in_files) and all("lake_mvq_mv" in f for f in in_files),
        "rewritten plan still reads the base table", in_files[:3],
    )
    rows1 = {
        r["st"]: (int(r["n"]), int(r["sum_key"]), float(r["avg_key"]))
        for r in d1.collect()
    }
    r2 = eng.df(
        f"SELECT MIN(o_orderkey) AS mn_f, MAX(o_orderkey) AS mx_f, "
        f"COUNT(*) AS n_f FROM {t} WHERE o_orderstatus = 'F'"
    ).first()
    _require(
        eng.last_mv_rewrite is not None
        and not eng.last_mv_rewrite["grouped"],
        "scalar aggregate did not rewrite over the MV",
        eng.last_mv_rewrite,
    )
    # append -> the NEXT query COMPENSATES (r14): the rewrite reads the
    # MV partials plus an aggregate over ONLY the delta files and must
    # equal the live state exactly ...
    orders.filter(F.col("o_orderkey") <= 50).write.mode("append").parquet(src)
    rows_comp = {
        r["st"]: int(r["n2"])
        for r in eng.df(
            f"SELECT o_orderstatus AS st, COUNT(*) AS n2 FROM {t} "
            f"GROUP BY o_orderstatus"
        ).collect()
    }
    _require(
        eng.last_mv_rewrite is not None
        and eng.last_mv_rewrite.get("compensation_delta_files", 0) >= 1,
        "stale MV did not compensate after a source append",
        eng.last_mv_rewrite,
    )
    # ... and after re-register + refresh the PLAIN rewrite resumes
    # over the LIVE state, matching the compensated answer
    eng.register(t, src)
    eng.refresh_materialized_view(f"{t}_mv")
    d3 = eng.df(
        f"SELECT o_orderstatus AS st, COUNT(*) AS n2 FROM {t} "
        f"GROUP BY o_orderstatus"
    )
    _require(
        eng.last_mv_rewrite is not None
        and "compensation_delta_files" not in eng.last_mv_rewrite,
        "refreshed MV did not resume plain rewriting",
    )
    rows2 = {r["st"]: int(r["n2"]) for r in d3.collect()}
    _require(
        rows_comp == rows2,
        "compensated rewrite disagrees with the refreshed state",
        (rows_comp, rows2),
    )
    spark.catalog.dropTempView(t)
    shutil.rmtree(src, ignore_errors=True)
    shutil.rmtree(mvp, ignore_errors=True)
    return spark.createDataFrame(
        [
            (
                st, rows1[st][0], rows1[st][1], rows1[st][2], rows2[st],
                int(r2["mn_f"]), int(r2["mx_f"]), int(r2["n_f"]),
            )
            for st in sorted(rows1)
        ],
        StructType([
            StructField("st", StringType()),
            StructField("n", LongType()),
            StructField("sum_key", LongType()),
            StructField("avg_key", DoubleType()),
            StructField("n2", LongType()),
            StructField("mn_f", LongType()),
            StructField("mx_f", LongType()),
            StructField("n_f", LongType()),
        ]),
    )


def lake_multikey_group_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-key GROUP BY aggregate pushdown + URI-escaped partition
    values (round 13). On a two-level hive layout every file is
    single-valued on BOTH grouping columns, so per-(status, priority)
    COUNT/SUM partials — and AVG as exact-sum/exact-count — come
    straight from per-file manifest stats with ZERO files scanned.
    The layout's '4-NOT SPECIFIED' priority carries a SPACE, which
    Path URIs render as %20 while listings return the literal name:
    the manifest now stores ONE (decoded) form, so the in-query gates
    also prove the manifest row count equals the live listing after
    both the build and an append (the pre-fix behavior produced
    duplicate rows and a permanently-declining agg pushdown). The
    DuckDB oracle recomputes every group from the raw fixture, with
    the appended state replayed as UNION ALL."""
    import uuid as _uuid

    from quack_reduce_spark.engine import Engine
    from quack_reduce_spark.operators import zonemaps as Z

    path = _fresh_dir(sf_dir, "lake_mkgrp")
    orders = load(spark, sf_dir, "orders")
    cols = ["o_orderstatus", "o_orderpriority", "o_orderkey"]
    orders.write.partitionBy("o_orderstatus", "o_orderpriority").mode(
        "overwrite"
    ).parquet(path)
    Z.write_zonemap(spark, path, cols)
    _rows, total = Z.prune_files_multi(spark, path, {})
    _require(
        total == len(Z._data_files(path)),
        "manifest row count diverged from the listing (URI escaping)",
        total,
    )
    eng = Engine(spark=spark)
    t = f"mkgrp_{_uuid.uuid4().hex[:8]}"
    eng.register(t, path)
    d1 = eng.df(
        f"SELECT o_orderstatus AS st, o_orderpriority AS pr, "
        f"COUNT(*) AS n, SUM(o_orderkey) AS sum_key, "
        f"AVG(o_orderkey) AS avg_key "
        f"FROM {t} GROUP BY o_orderstatus, o_orderpriority"
    )
    plan = eng.last_agg_plan
    _require(
        plan is not None
        and plan.get("group_by") == ["o_orderstatus", "o_orderpriority"]
        and plan["files_scanned"] == 0,
        "multi-key grouped aggregate did not answer from metadata", plan,
    )
    rows1 = {
        (r["st"], r["pr"]): (int(r["n"]), int(r["sum_key"]), float(r["avg_key"]))
        for r in d1.collect()
    }
    # append (touching the space-bearing partitions too), delta-stat,
    # and require the manifest still matches the listing + idempotence
    orders.filter(F.col("o_orderkey") <= 50).write.partitionBy(
        "o_orderstatus", "o_orderpriority"
    ).mode("append").parquet(path)
    _require(Z.append_zonemap(spark, path, cols) > 0, "append statted nothing")
    _rows2, total2 = Z.prune_files_multi(spark, path, {})
    _require(
        total2 == len(Z._data_files(path)),
        "append diverged manifest from listing", total2,
    )
    _require(
        Z.append_zonemap(spark, path, cols) == 0,
        "append_zonemap re-statted already-known files (URI escaping)",
    )
    eng.register(t, path)
    d2 = eng.df(
        f"SELECT o_orderstatus AS st, o_orderpriority AS pr, COUNT(*) AS n2 "
        f"FROM {t} GROUP BY o_orderstatus, o_orderpriority"
    )
    _require(
        eng.last_agg_plan is not None
        and eng.last_agg_plan["files_scanned"] == 0,
        "post-append grouped aggregate left metadata", eng.last_agg_plan,
    )
    rows2 = {(r["st"], r["pr"]): int(r["n2"]) for r in d2.collect()}
    spark.catalog.dropTempView(t)
    shutil.rmtree(path, ignore_errors=True)
    return spark.createDataFrame(
        [
            (st, pr, *rows1[(st, pr)], rows2[(st, pr)])
            for st, pr in sorted(rows1)
        ],
        StructType([
            StructField("st", StringType()),
            StructField("pr", StringType()),
            StructField("n", LongType()),
            StructField("sum_key", LongType()),
            StructField("avg_key", DoubleType()),
            StructField("n2", LongType()),
        ]),
    )


def lake_timebucket_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Derived time-bucket grouping from metadata (round 13): the
    time-series dashboard shape — ``GROUP BY year(d)`` — over a
    date-clustered table. Spark hoists the bucket expression into a
    ``_groupingexpression`` Project alias; the extractor recognizes
    the MONOTONE date-bucket family (year / trunc month / to_date), so
    a file whose source endpoints bucket equally PINS to that bucket
    from per-file stats (bucketed driver-side to exactly Spark's
    value) and only boundary-straddling files are read. In-query gates
    prove partial pinning (files_scanned < files_total on the yearly
    rollup and the DISTINCT-year probe); the DuckDB oracle recomputes
    every bucket from the raw fixture."""
    import uuid as _uuid

    from quack_reduce_spark.engine import Engine
    from quack_reduce_spark.operators import zonemaps as Z

    path = _fresh_dir(sf_dir, "lake_tbucket")
    orders = load(spark, sf_dir, "orders")
    (
        orders.repartitionByRange(12, "o_orderdate")
        .sortWithinPartitions("o_orderdate")
        .write.mode("overwrite")
        .parquet(path)
    )
    Z.write_zonemap(spark, path, ["o_orderdate", "o_orderkey"])
    eng = Engine(spark=spark)
    t = f"tbucket_{_uuid.uuid4().hex[:8]}"
    eng.register(t, path)
    d1 = eng.df(
        f"SELECT year(o_orderdate) AS y, COUNT(*) AS n, "
        f"SUM(o_orderkey) AS sum_key, AVG(o_orderkey) AS avg_key "
        f"FROM {t} GROUP BY 1 ORDER BY y"
    )
    plan = eng.last_agg_plan
    _require(
        plan is not None
        and plan.get("group_by") == ["year(o_orderdate)"]
        and plan["files_scanned"] < plan["files_total"],
        "yearly rollup did not pin any file from metadata", plan,
    )
    rows = [
        (int(r["y"]), int(r["n"]), int(r["sum_key"]), float(r["avg_key"]))
        for r in d1.collect()
    ]
    eng.df(
        f"SELECT DISTINCT year(o_orderdate) AS y FROM {t} ORDER BY y"
    ).collect()
    p2 = eng.last_agg_plan
    _require(
        p2 is not None and p2["files_scanned"] < p2["files_total"],
        "distinct-year probe did not pin any file", p2,
    )
    spark.catalog.dropTempView(t)
    shutil.rmtree(path, ignore_errors=True)
    return spark.createDataFrame(
        rows,
        StructType([
            StructField("y", IntegerType()),
            StructField("n", LongType()),
            StructField("sum_key", LongType()),
            StructField("avg_key", DoubleType()),
        ]),
    )


def lake_result_cache(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Query RESULT cache on the envelope surface (round 13): the
    reference's benchmark "cached" mode (``benchmark.py:254-265``)
    with real invalidation. An identical ``(query, limit)`` over
    unchanged tables returns the stored records WITHOUT executing;
    the freshness token is each table's snapshot (one stat of the
    zone-map ``_list.json`` when manifested, else a capped file
    listing) PLUS the view-binding epoch, so both source commits and
    re-registrations invalidate. In-query gates prove the mechanism:
    the second identical query HITS (and its records equal the
    first's), a source append + re-register MISSES with the live
    counts, and the query after that hits the refreshed entry. The
    DuckDB oracle recomputes the pre-append groups and the post-append
    counts (replayed as UNION ALL) from the raw fixture — a hash match
    proves every envelope, cached or not, carries exactly the plain
    answers."""
    import uuid as _uuid

    from quack_reduce_spark.engine import Engine

    src = _fresh_dir(sf_dir, "lake_rescache")
    orders = load(spark, sf_dir, "orders")
    orders.write.mode("overwrite").parquet(src)
    eng = Engine(spark=spark)
    t = f"rcache_{_uuid.uuid4().hex[:8]}"
    eng.register(t, src)
    q = (
        f"SELECT o_orderstatus AS st, COUNT(*) AS n FROM {t} "
        f"GROUP BY o_orderstatus ORDER BY st"
    )
    r1 = eng.sql(q)
    _require(
        r1.metadata["result_cache"] == {"hit": False, "stored": True},
        "first query did not store", r1.metadata.get("result_cache"),
    )
    r2 = eng.sql(q)
    _require(
        r2.metadata["result_cache"] == {"hit": True}
        and r2.records == r1.records,
        "second identical query did not hit", r2.metadata.get("result_cache"),
    )
    orders.filter(F.col("o_orderkey") <= 50).write.mode("append").parquet(src)
    eng.register(t, src)
    r3 = eng.sql(q)
    _require(
        r3.metadata["result_cache"]["hit"] is False,
        "source commit did not invalidate", r3.metadata.get("result_cache"),
    )
    r4 = eng.sql(q)
    _require(
        r4.metadata["result_cache"] == {"hit": True}
        and r4.records == r3.records,
        "refreshed entry did not hit", r4.metadata.get("result_cache"),
    )
    post = {rec["st"]: int(rec["n"]) for rec in r4.records}
    spark.catalog.dropTempView(t)
    shutil.rmtree(src, ignore_errors=True)
    return spark.createDataFrame(
        [
            (rec["st"], int(rec["n"]), post[rec["st"]])
            for rec in sorted(r2.records, key=lambda x: x["st"])
        ],
        StructType([
            StructField("st", StringType()),
            StructField("n", LongType()),
            StructField("n2", LongType()),
        ]),
    )


def lake_decimal_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decimal manifest stats in UNSCALED-INT space (round 13): real
    lakes keep prices as decimals, and until now a decimal-keyed range
    scan got zero file skipping (decimals were excluded from every
    pruning path). A ``decimal(p<=18)`` stats column now stats as the
    exact long ``v * 10^s`` end to end — min/max commute with the
    positive monotone scaling, Catalyst decimal literals decode via
    ``toUnscaledLong`` into the same space, Bloom fingerprints hash the
    unscaled rendering, and count_where bounds reformulate exactly
    (ceil for lo / floor for hi absorbs non-representable remainders).
    In-query gates prove pruning fires on a price-clustered table: the
    SQL range aggregate scans <= 3 boundary files, the 12-value IN
    reads under half the files, the Bloom point count on a layout NOT
    clustered by price reads <= 4 of 12, and count_where with a
    non-representable Decimal('1000.005') lower bound plans
    metadata+residual. The DuckDB oracle recomputes every value from
    the raw fixture through the same DECIMAL(12,2) cast."""
    import decimal as _pydec
    import uuid as _uuid

    from quack_reduce_spark.engine import Engine
    from quack_reduce_spark.operators import zonemaps as Z

    path = _fresh_dir(sf_dir, "lake_dec")
    path2 = _fresh_dir(sf_dir, "lake_dec_hash")
    orders = load(spark, sf_dir, "orders").withColumn(
        "price", F.col("o_totalprice").cast("decimal(12,2)")
    )
    (
        orders.repartitionByRange(12, "price")
        .sortWithinPartitions("price")
        .write.mode("overwrite")
        .parquet(path)
    )
    Z.write_zonemap(spark, path, ["price"])
    orders.repartition(12, "o_orderkey").write.mode("overwrite").parquet(path2)
    Z.write_zonemap(spark, path2, ["price"], bloom_cols=["price"])
    eng = Engine(spark=spark)
    t = f"dec_{_uuid.uuid4().hex[:8]}"
    tb = f"decb_{_uuid.uuid4().hex[:8]}"
    eng.register(t, path)
    eng.register(tb, path2)
    # 1. range aggregate through the SQL surface (agg pushdown +
    # unscaled classification): mostly metadata on the clustered layout
    r1 = eng.df(
        f"SELECT COUNT(*) AS n_range, MIN(price) AS mn_price, "
        f"MAX(price) AS mx_price, SUM(price) AS sum_price FROM {t} "
        f"WHERE price >= 1000.00 AND price < 300000.00"
    ).first()
    plan = eng.last_agg_plan
    _require(
        plan is not None and plan["files_scanned"] <= 3,
        "decimal range aggregate did not prune", plan,
    )
    # 2. sparse IN over the clustered layout: value-set pruning
    in_vals = [f"{v}.25" for v in (1000, 2000, 3000, 150000, 151000)] + [
        f"{v}.75" for v in (9000, 9100, 9200, 250000, 250100, 250200, 250300)
    ]
    r2 = eng.df(
        f"SELECT COUNT(*) AS n_in FROM {t} "
        f"WHERE price IN ({', '.join(in_vals)})"
    ).first()
    rep2 = eng.last_zonemap_report.get(t)
    _require(
        rep2 is not None and rep2["files_read"] * 2 <= rep2["files_total"],
        "decimal IN did not prune by value set", rep2,
    )
    # 3. Bloom point count on the layout NOT clustered by price: the
    # fingerprint (unscaled-long space), not the useless envelope
    key = (
        spark.read.parquet(path2)
        .select("price")
        .orderBy("price")
        .offset(700)
        .limit(1)
        .first()[0]
    )
    r3 = eng.df(
        f"SELECT COUNT(*) AS n_point FROM {tb} WHERE price = {key}"
    ).first()
    rep3 = eng.last_zonemap_report.get(tb)
    _require(
        rep3 is not None and rep3["agg_pushdown"]["files_pruned_in"] <= 4,
        "decimal bloom fingerprint did not prune the point count", rep3,
    )
    # 4. count_where with a NON-REPRESENTABLE Decimal bound: exact
    # ceil/floor reformulation into scale-2 space
    n_cw = eng.count_where(
        t, {"price": (_pydec.Decimal("1000.005"), _pydec.Decimal("20000.00"))}
    )
    _require(
        eng.last_count_plan.get("source") == "metadata+residual",
        "decimal count_where fell back to a scan", eng.last_count_plan,
    )
    spark.catalog.dropTempView(t)
    spark.catalog.dropTempView(tb)
    shutil.rmtree(path, ignore_errors=True)
    shutil.rmtree(path2, ignore_errors=True)
    return spark.createDataFrame(
        [(
            int(r1["n_range"]), float(r1["mn_price"]), float(r1["mx_price"]),
            float(r1["sum_price"]),
            int(r2["n_in"]), int(r3["n_point"]), int(n_cw),
        )],
        StructType([
            StructField("n_range", LongType()),
            StructField("mn_price", DoubleType()),
            StructField("mx_price", DoubleType()),
            StructField("sum_price", DoubleType()),
            StructField("n_in", LongType()),
            StructField("n_point", LongType()),
            StructField("n_cw", LongType()),
        ]),
    )


def lake_decimal_wide_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WIDE-decimal manifest stats (round 14, VERDICT r13 #5): TPC-H
    money at ``decimal(38,4)`` has no unscaled-long space (the unscaled
    value overflows int64), so r13 silently recorded no usable stats.
    Wide decimals now stat NATIVELY — parquet holds decimal(38,s)
    min/max, the list doc serializes them as exact decimal strings,
    Catalyst literals decode to python Decimals via BigDecimal's plain
    string, and every driver-side comparison is Decimal-vs-Decimal
    (exact, zone-free). In-query gates prove the paths on a
    price-clustered table: the SQL range COUNT/MIN/MAX answers via agg
    pushdown with <= 3 boundary files, the sparse IN prunes by value
    set, and count_where with Decimal bounds plans metadata+residual.
    SUM/AVG of wide decimals still decline by design (their per-file
    sums can overflow the 38-digit space silently) — the oracle's
    n_range/mn/mx recompute through the same DECIMAL(38,4) cast."""
    import decimal as _pydec
    import uuid as _uuid

    from quack_reduce_spark.engine import Engine
    from quack_reduce_spark.operators import zonemaps as Z

    path = _fresh_dir(sf_dir, "lake_decw")
    orders = load(spark, sf_dir, "orders").withColumn(
        "price", F.col("o_totalprice").cast("decimal(38,4)")
    )
    (
        orders.repartitionByRange(12, "price")
        .sortWithinPartitions("price")
        .write.mode("overwrite")
        .parquet(path)
    )
    Z.write_zonemap(spark, path, ["price"])
    eng = Engine(spark=spark)
    t = f"decw_{_uuid.uuid4().hex[:8]}"
    eng.register(t, path)
    # 1. range aggregate (COUNT/MIN/MAX — SUM declines for wide
    # decimals by design) answers from metadata + O(1) boundary files
    r1 = eng.df(
        f"SELECT COUNT(*) AS n_range, MIN(price) AS mn_price, "
        f"MAX(price) AS mx_price FROM {t} "
        f"WHERE price >= 1000.0000 AND price < 300000.0000"
    ).first()
    plan = eng.last_agg_plan
    _require(
        plan is not None and plan["files_scanned"] <= 3,
        "wide-decimal range aggregate did not prune", plan,
    )
    # 2. sparse IN: value-set pruning through the InSet internal dump
    in_vals = [f"{v}.25" for v in (1000, 2000, 3000, 150000, 151000)] + [
        f"{v}.75" for v in (9000, 9100, 9200, 250000, 250100, 250200, 250300)
    ]
    r2 = eng.df(
        f"SELECT COUNT(*) AS n_in FROM {t} "
        f"WHERE price IN ({', '.join(in_vals)})"
    ).first()
    rep2 = eng.last_zonemap_report.get(t) or {}
    pruned_in = rep2.get("agg_pushdown", {}).get(
        "files_pruned_in", rep2.get("files_read")
    )
    total2 = rep2.get("agg_pushdown", {}).get(
        "files_total", rep2.get("files_total")
    )
    _require(
        pruned_in is not None and total2 and pruned_in * 2 <= total2,
        "wide-decimal IN did not prune by value set", rep2,
    )
    # 3. count_where with exact Decimal bounds: metadata+residual
    n_cw = eng.count_where(
        t,
        {"price": (_pydec.Decimal("1000.0050"), _pydec.Decimal("20000.0000"))},
    )
    _require(
        eng.last_count_plan.get("source") == "metadata+residual",
        "wide-decimal count_where fell back to a scan", eng.last_count_plan,
    )
    # 4. SUM/AVG (r15, VERDICT r14 #5): per-file sums stat natively as
    # decimal(38,4) and fold driver-side in exact python-Decimal space
    # — the range SUM/AVG answers from metadata + O(1) boundary files.
    # SUM returns as its exact decimal STRING (double conversion would
    # hide low digits); AVG rounds to 4 dp via the engine-portable rnd
    # (Spark's decimal-average rounds at scale+4, DuckDB's AVG is a
    # raw double — they agree after the shared rounding).
    r4 = eng.df(
        f"SELECT SUM(price) AS s_range, AVG(price) AS a_range, "
        f"COUNT(price) AS n4 FROM {t} "
        f"WHERE price >= 1000.0000 AND price < 300000.0000"
    ).first()
    plan4 = eng.last_agg_plan
    _require(
        plan4 is not None and plan4["files_scanned"] <= 3,
        "wide-decimal SUM/AVG did not answer from metadata", plan4,
    )
    import math as _math

    a_rnd = _math.floor(float(r4["a_range"]) * 10_000 + 0.5) / 10_000
    spark.catalog.dropTempView(t)
    shutil.rmtree(path, ignore_errors=True)
    return spark.createDataFrame(
        [(
            int(r1["n_range"]), float(r1["mn_price"]), float(r1["mx_price"]),
            int(r2["n_in"]), int(n_cw),
            str(r4["s_range"]), a_rnd,
        )],
        StructType([
            StructField("n_range", LongType()),
            StructField("mn_price", DoubleType()),
            StructField("mx_price", DoubleType()),
            StructField("n_in", LongType()),
            StructField("n_cw", LongType()),
            StructField("s_range", StringType()),
            StructField("a_range_rnd", DoubleType()),
        ]),
    )


def lake_group_agg_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY aggregate pushdown (round 13): the reference's own
    benchmark shape — a grouped COUNT over a partitioned table
    (``benchmark.py:133-141``, grouped counts per partition) — answered
    from METADATA: on a hive-partitioned layout every file is
    single-valued on the grouping column, so each group's
    COUNT(*)/SUM/MIN partials come straight from per-file manifest
    stats and the plan contains NO file scan node; a query that ALSO
    carries a range conjunct merges the contained files' per-group
    partials with a grouped residual over only the boundary files.
    In-query gates prove both shapes (zero files scanned for the plain
    group-by; boundary <= total for the range one); the DuckDB oracle
    recomputes every group from the raw fixture."""
    import uuid as _uuid

    from quack_reduce_spark.engine import Engine
    from quack_reduce_spark.operators import zonemaps as Z

    path = _fresh_dir(sf_dir, "lake_grpagg")
    orders = load(spark, sf_dir, "orders")
    orders.write.partitionBy("o_orderstatus").mode("overwrite").parquet(path)
    Z.write_zonemap(
        spark, path, ["o_orderstatus", "o_orderkey", "o_orderdate"]
    )
    eng = Engine(spark=spark)
    t = f"grpagg_{_uuid.uuid4().hex[:8]}"
    eng.register(t, path)
    d1 = eng.df(
        f"SELECT o_orderstatus AS st, COUNT(*) AS n, "
        f"SUM(o_orderkey) AS sum_key, MIN(o_orderkey) AS mn_key, "
        f"AVG(o_orderkey) AS avg_key "
        f"FROM {t} GROUP BY o_orderstatus"
    )
    plan1 = eng.last_agg_plan
    _require(
        plan1 is not None
        and plan1.get("group_by") == ["o_orderstatus"]
        and plan1["files_scanned"] == 0
        and plan1["groups_metadata"] >= 3,
        "plain grouped aggregate did not answer from metadata", plan1,
    )
    phys = d1._jdf.queryExecution().executedPlan().toString()
    _require(
        "FileScan" not in phys and "Scan parquet" not in phys,
        "grouped metadata aggregate plan contains a file scan",
    )
    rows1 = [
        (r["st"], int(r["n"]), int(r["sum_key"]), int(r["mn_key"]),
         float(r["avg_key"]))
        for r in d1.collect()
    ]
    # the range query ALSO exercises the r13 HAVING + ORDER BY peel
    # (trivially-true HAVING: values unchanged, path exercised)
    d2 = eng.df(
        f"SELECT o_orderstatus AS st, COUNT(*) AS n FROM {t} "
        f"WHERE o_orderdate >= TIMESTAMP '1996-01-01' "
        f"GROUP BY o_orderstatus HAVING COUNT(*) >= 1 ORDER BY st"
    )
    plan2 = eng.last_agg_plan
    _require(
        plan2 is not None and plan2.get("group_by") == ["o_orderstatus"],
        "range grouped aggregate (HAVING/ORDER peel) left the metadata path",
        plan2,
    )
    rows2 = {r["st"]: int(r["n"]) for r in d2.collect()}
    spark.catalog.dropTempView(t)
    shutil.rmtree(path, ignore_errors=True)
    return spark.createDataFrame(
        [
            (st, n, sk, mk, ak, rows2.get(st))
            for st, n, sk, mk, ak in sorted(rows1)
        ],
        StructType([
            StructField("st", StringType()),
            StructField("n", LongType()),
            StructField("sum_key", LongType()),
            StructField("mn_key", LongType()),
            StructField("avg_key", DoubleType()),
            StructField("n_range", LongType()),
        ]),
    )


def lake_mv_stale_compensation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stale-MV COMPENSATION rewrite (round 14, VERDICT r13 #3): a
    dashboard MV whose source has APPENDED since materialization no
    longer loses its rewrite — the planner proves the drift is
    append-only (every recorded file re-stats unchanged), reads the MV
    partials plus an aggregate over ONLY the delta files, and unions
    them (every partial kind merges). In-query gates prove the
    mechanism: the pre-append query rewrites plain; the post-append
    query rewrites WITH ``compensation_delta_files`` and its physical
    scan touches the source only through files that did not exist
    before the append. The DuckDB oracle recomputes both states from
    the raw fixture (the append replayed as UNION ALL), so a hash
    match proves the compensated answer equals a fresh full
    materialization."""
    import os as _os
    import uuid as _uuid

    from quack_reduce_spark.engine import Engine

    src = _fresh_dir(sf_dir, "lake_mvcomp_src")
    mvp = _fresh_dir(sf_dir, "lake_mvcomp_mv")
    orders = load(spark, sf_dir, "orders")
    orders.write.mode("overwrite").parquet(src)
    pre_files = set(_os.listdir(src))
    eng = Engine(spark=spark)
    t = f"mvcomp_{_uuid.uuid4().hex[:8]}"
    eng.register(t, src)
    eng.create_materialized_view(
        f"{t}_mv",
        f"SELECT o_orderstatus, COUNT(*) AS n, SUM(o_orderkey) AS s, "
        f"COUNT(o_orderkey) AS nk, MIN(o_orderkey) AS mn, "
        f"MAX(o_orderkey) AS mx FROM {t} GROUP BY o_orderstatus",
        mvp,
    )
    q = (
        f"SELECT o_orderstatus AS st, COUNT(*) AS n, "
        f"SUM(o_orderkey) AS s, MAX(o_orderkey) AS mx "
        f"FROM {t} GROUP BY o_orderstatus"
    )
    d_pre = eng.df(q)
    _require(
        eng.last_mv_rewrite is not None
        and "compensation_delta_files" not in eng.last_mv_rewrite,
        "fresh MV did not rewrite plain", eng.last_mv_rewrite,
    )
    rows_pre = {
        r["st"]: (int(r["n"]), int(r["s"])) for r in d_pre.collect()
    }
    # append WITHOUT refresh: the next rewrite must compensate
    orders.filter(F.col("o_orderkey") <= 100).write.mode("append").parquet(src)
    d_post = eng.df(q)
    tele = eng.last_mv_rewrite
    _require(
        tele is not None and tele.get("compensation_delta_files", 0) >= 1,
        "stale MV did not compensate", tele,
    )
    src_reads = {
        f.rsplit("/", 1)[-1]
        for f in d_post.inputFiles()
        if "lake_mvcomp_src" in f
    }
    _require(
        bool(src_reads) and not (src_reads & pre_files),
        "compensated plan read pre-append source files",
        sorted(src_reads & pre_files)[:3],
    )
    rows_post = {
        r["st"]: (int(r["n"]), int(r["s"]), int(r["mx"]))
        for r in d_post.collect()
    }
    spark.catalog.dropTempView(t)
    shutil.rmtree(src, ignore_errors=True)
    shutil.rmtree(mvp, ignore_errors=True)
    return spark.createDataFrame(
        [
            (
                st, rows_pre[st][0], rows_pre[st][1],
                rows_post[st][0], rows_post[st][1], rows_post[st][2],
            )
            for st in sorted(rows_pre)
        ],
        StructType([
            StructField("st", StringType()),
            StructField("n_pre", LongType()),
            StructField("s_pre", LongType()),
            StructField("n_post", LongType()),
            StructField("s_post", LongType()),
            StructField("mx_post", LongType()),
        ]),
    )


def lake_mv_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PREDICATE-bearing MV with containment rewrite (round 14,
    VERDICT r13 #6): the reference's own dbt model is a filtered
    aggregate view (``trips_by_pickup_location.sql:1-6``). A CREATE
    with WHERE stores the canonical conjuncts; a query rewrites only
    when its predicate CONTAINS the MV's (the MV rows already satisfy
    them), with the query-only residual re-applied over plain MV keys.
    In-query gates: the same-predicate grouped query and the
    contained+residual scalar both rewrite (``mv_predicate`` telemetry
    set), a WIDER query (no predicate / weaker bound) declines and
    runs plain. The DuckDB oracle replays every value from the raw
    fixture."""
    import uuid as _uuid

    from quack_reduce_spark.engine import Engine

    src = _fresh_dir(sf_dir, "lake_mvf_src")
    mvp = _fresh_dir(sf_dir, "lake_mvf_mv")
    orders = load(spark, sf_dir, "orders")
    orders.write.mode("overwrite").parquet(src)
    eng = Engine(spark=spark)
    t = f"mvf_{_uuid.uuid4().hex[:8]}"
    eng.register(t, src)
    meta = eng.create_materialized_view(
        f"{t}_mv",
        f"SELECT o_orderstatus, COUNT(*) AS n, SUM(o_orderkey) AS s "
        f"FROM {t} WHERE o_orderkey > 1000 GROUP BY o_orderstatus",
        mvp,
    )
    _require(bool(meta.get("conjuncts")), "predicate missing from MV spec")
    d1 = eng.df(
        f"SELECT o_orderstatus AS st, COUNT(*) AS n, SUM(o_orderkey) AS s "
        f"FROM {t} WHERE o_orderkey > 1000 GROUP BY o_orderstatus"
    )
    _require(
        eng.last_mv_rewrite is not None
        and eng.last_mv_rewrite.get("mv_predicate") is True,
        "same-predicate query did not rewrite", eng.last_mv_rewrite,
    )
    in_files = d1.inputFiles()
    _require(
        bool(in_files) and all("lake_mvf_mv" in f for f in in_files),
        "filtered-MV rewrite still reads the base table", in_files[:3],
    )
    rows1 = {r["st"]: (int(r["n"]), int(r["s"])) for r in d1.collect()}
    # contained + residual on the plain group key
    r2 = eng.df(
        f"SELECT COUNT(*) AS n FROM {t} "
        f"WHERE o_orderkey > 1000 AND o_orderstatus = 'F'"
    ).first()
    _require(
        eng.last_mv_rewrite is not None,
        "contained+residual query did not rewrite",
    )
    # wider predicate: MUST decline (the MV's rows are a subset)
    r3 = eng.df(f"SELECT COUNT(*) AS n FROM {t}").first()
    _require(
        eng.last_mv_rewrite is None, "wider query rewrote over a filtered MV"
    )
    r4 = eng.df(
        f"SELECT COUNT(*) AS n FROM {t} WHERE o_orderkey > 500"
    ).first()
    _require(
        eng.last_mv_rewrite is None,
        "weaker-bound query rewrote over a filtered MV",
    )
    # predicate x BUCKET-granularity composition (r15, VERDICT r14 #6):
    # a WHERE-bearing MV keyed by trunc(month) serves the YEARLY
    # rollup with the same predicate (residual-free containment is
    # bucket-independent); a genuine residual on the bucket SOURCE
    # column still declines (it does not commute with the bucketing)
    mvp2 = _fresh_dir(sf_dir, "lake_mvf_mv2")
    eng.create_materialized_view(
        f"{t}_mvb",
        f"SELECT trunc(o_orderdate, 'month') AS m, COUNT(*) AS n "
        f"FROM {t} WHERE o_orderkey > 1000 GROUP BY 1",
        mvp2,
    )
    d5 = eng.df(
        f"SELECT year(o_orderdate) AS y, COUNT(*) AS n FROM {t} "
        f"WHERE o_orderkey > 1000 GROUP BY 1"
    )
    _require(
        eng.last_mv_rewrite is not None
        and eng.last_mv_rewrite.get("view") == f"{t}_mvb"
        and eng.last_mv_rewrite.get("mv_predicate") is True,
        "bucket+predicate MV did not serve the yearly rollup",
        eng.last_mv_rewrite,
    )
    rows5 = {int(r["y"]): int(r["n"]) for r in d5.collect()}
    r6 = eng.df(
        f"SELECT COUNT(*) AS n FROM {t} "
        f"WHERE o_orderkey > 1000 AND o_orderdate >= DATE '1995-03-15'"
    ).first()
    _require(
        eng.last_mv_rewrite is None,
        "bucket-source residual must decline (does not commute)",
    )
    spark.catalog.dropTempView(t)
    shutil.rmtree(src, ignore_errors=True)
    shutil.rmtree(mvp, ignore_errors=True)
    shutil.rmtree(mvp2, ignore_errors=True)
    y0 = min(rows5)
    return spark.createDataFrame(
        [
            (st, rows1[st][0], rows1[st][1], int(r2["n"]), int(r3["n"]),
             int(r4["n"]), rows5[y0], y0, int(r6["n"]))
            for st in sorted(rows1)
        ],
        StructType([
            StructField("st", StringType()),
            StructField("n", LongType()),
            StructField("s", LongType()),
            StructField("n_f", LongType()),
            StructField("n_all", LongType()),
            StructField("n_500", LongType()),
            StructField("n_y0", LongType()),
            StructField("y0", IntegerType()),
            StructField("n_resid", LongType()),
        ]),
    )


def lake_group_agg_unclustered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY pushdown on an UNCLUSTERED layout via per-file
    PER-GROUP manifest partials (round 14, VERDICT r13 #2 — the
    Iceberg partition-stats shape). The r13 grouped pushdown required
    every file single-valued on the key; here the table is
    round-robin-repartitioned so EVERY file mixes every group, and
    ``write_zonemap(group_stats_cols=['o_orderstatus'])`` records one
    stats row per (file, status). In-query gates: the grouped
    COUNT/SUM/MIN/AVG answers with ZERO files scanned and a physical
    plan with NO file scan; after an append + ``append_zonemap`` (which
    stats only the delta files' slices) the query still answers at
    zero files scanned and reflects the appended rows. The DuckDB
    oracle recomputes both states from the raw fixture."""
    import uuid as _uuid

    from quack_reduce_spark.engine import Engine
    from quack_reduce_spark.operators import zonemaps as Z

    path = _fresh_dir(sf_dir, "lake_gsagg")
    orders = load(spark, sf_dir, "orders")
    orders.repartition(6).write.mode("overwrite").parquet(path)
    Z.write_zonemap(
        spark, path, ["o_orderstatus", "o_orderkey"],
        group_stats_cols=["o_orderstatus"],
    )
    eng = Engine(spark=spark)
    t = f"gsagg_{_uuid.uuid4().hex[:8]}"
    eng.register(t, path)
    q = (
        f"SELECT o_orderstatus AS st, COUNT(*) AS n, "
        f"SUM(o_orderkey) AS sum_key, MIN(o_orderkey) AS mn_key, "
        f"AVG(o_orderkey) AS avg_key FROM {t} GROUP BY o_orderstatus"
    )
    d1 = eng.df(q)
    plan1 = eng.last_agg_plan
    _require(
        plan1 is not None
        and plan1["files_scanned"] == 0
        and plan1.get("files_group_stats", 0) >= 1,
        "unclustered grouped aggregate did not answer from group stats",
        plan1,
    )
    phys = d1._jdf.queryExecution().executedPlan().toString()
    _require(
        "FileScan" not in phys and "Scan parquet" not in phys,
        "group-stats aggregate plan contains a file scan",
    )
    rows1 = [
        (r["st"], int(r["n"]), int(r["sum_key"]), int(r["mn_key"]),
         float(r["avg_key"]))
        for r in d1.collect()
    ]
    # append + delta-only maintenance: still zero files scanned
    orders.filter(F.col("o_orderkey") <= 200).repartition(2).write.mode(
        "append"
    ).parquet(path)
    Z.append_zonemap(spark, path, ["o_orderstatus", "o_orderkey"])
    eng.register(t, path)
    d2 = eng.df(
        f"SELECT o_orderstatus AS st, COUNT(*) AS n2 FROM {t} "
        f"GROUP BY o_orderstatus"
    )
    plan2 = eng.last_agg_plan
    _require(
        plan2 is not None and plan2["files_scanned"] == 0,
        "post-append grouped aggregate left the metadata path", plan2,
    )
    rows2 = {r["st"]: int(r["n2"]) for r in d2.collect()}
    spark.catalog.dropTempView(t)
    shutil.rmtree(path, ignore_errors=True)
    return spark.createDataFrame(
        [
            (st, n, sk, mk, ak, rows2.get(st))
            for st, n, sk, mk, ak in sorted(rows1)
        ],
        StructType([
            StructField("st", StringType()),
            StructField("n", LongType()),
            StructField("sum_key", LongType()),
            StructField("mn_key", LongType()),
            StructField("avg_key", DoubleType()),
            StructField("n_post", LongType()),
        ]),
    )


def lake_group_agg_multikey_unclustered(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """COMPOSITE slice partials (r15, VERDICT r14 #3): ``GROUP BY
    (o_orderstatus, o_orderpriority)`` on a layout where NEITHER
    column clusters answers at ZERO files scanned from per-(file, a,
    b) slice rows written by ``write_zonemap(group_stats_cols=
    ['o_orderstatus,o_orderpriority'])`` — the gap r14's single-column
    slices left (``engine.py`` picked ONE gs column; the second key
    had to be single-valued inside the first's slices). Also gates the
    single-key rollup through the same composite. The DuckDB oracle
    recomputes both groupings from the raw fixture."""
    import uuid as _uuid

    from quack_reduce_spark.engine import Engine
    from quack_reduce_spark.operators import zonemaps as Z

    path = _fresh_dir(sf_dir, "lake_gsagg_mk")
    orders = load(spark, sf_dir, "orders")
    # round-robin: every file mixes every (status, priority) pair
    orders.repartition(6).write.mode("overwrite").parquet(path)
    Z.write_zonemap(
        spark, path, ["o_orderstatus", "o_orderpriority", "o_orderkey"],
        group_stats_cols=["o_orderstatus,o_orderpriority"],
    )
    eng = Engine(spark=spark)
    t = f"gsmk_{_uuid.uuid4().hex[:8]}"
    eng.register(t, path)
    d1 = eng.df(
        f"SELECT o_orderstatus AS st, o_orderpriority AS pr, "
        f"COUNT(*) AS n, SUM(o_orderkey) AS sum_key, "
        f"MIN(o_orderkey) AS mn_key FROM {t} GROUP BY 1, 2"
    )
    plan1 = eng.last_agg_plan
    _require(
        plan1 is not None
        and plan1["files_scanned"] == 0
        and plan1.get("group_stats_col") == "o_orderstatus,o_orderpriority",
        "composite grouped aggregate did not answer from slice stats",
        plan1,
    )
    rows1 = [
        (r["st"], r["pr"], int(r["n"]), int(r["sum_key"]), int(r["mn_key"]))
        for r in d1.collect()
    ]
    # single-key rollup through the SAME composite slices
    d2 = eng.df(
        f"SELECT o_orderpriority AS pr, COUNT(*) AS n2 FROM {t} GROUP BY 1"
    )
    plan2 = eng.last_agg_plan
    _require(
        plan2 is not None and plan2["files_scanned"] == 0,
        "single-key rollup left the metadata path", plan2,
    )
    rows2 = {r["pr"]: int(r["n2"]) for r in d2.collect()}
    spark.catalog.dropTempView(t)
    shutil.rmtree(path, ignore_errors=True)
    return spark.createDataFrame(
        [
            (st, pr, n, sk, mk, rows2.get(pr))
            for st, pr, n, sk, mk in sorted(rows1)
        ],
        StructType([
            StructField("st", StringType()),
            StructField("pr", StringType()),
            StructField("n", LongType()),
            StructField("sum_key", LongType()),
            StructField("mn_key", LongType()),
            StructField("n_pr", LongType()),
        ]),
    )


def lake_topk_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw-column ``ORDER BY col DESC/ASC LIMIT k`` through
    ``Engine.df`` over zone-mapped tables — the scan-shaped sibling of
    the reference's flagship artifact (``top_pickup_locations.sql:8-9``
    is ``ORDER BY 2 DESC LIMIT 200`` over a GROUP BY). The shape runs
    on Spark's native plan (TakeOrderedAndProject); the key is kept as
    differential coverage of the engine path over a clustered copy, an
    UNCLUSTERED copy, monotone sort expressions (``date_trunc``,
    negation) and a non-monotone one (``abs``). The DuckDB oracle
    recomputes every variant from the raw fixture."""
    import uuid as _uuid

    from quack_reduce_spark.engine import Engine
    from quack_reduce_spark.operators import zonemaps as Z

    orders = load(spark, sf_dir, "orders")
    path = _fresh_dir(sf_dir, "lake_topk")
    (
        orders.repartitionByRange(8, "o_orderkey")
        .sortWithinPartitions("o_orderkey")
        .write.mode("overwrite")
        .parquet(path)
    )
    Z.write_zonemap(spark, path, ["o_orderkey"])
    eng = Engine(spark=spark)
    t = f"topk_{_uuid.uuid4().hex[:8]}"
    eng.register(t, path)
    d1 = eng.df(
        f"SELECT o_orderkey, o_custkey FROM {t} "
        f"ORDER BY o_orderkey DESC LIMIT 8"
    )
    rows1 = [(r["o_orderkey"], r["o_custkey"]) for r in d1.collect()]
    d2 = eng.df(
        f"SELECT o_orderkey, o_custkey FROM {t} WHERE o_orderkey >= 500 "
        f"ORDER BY o_orderkey ASC LIMIT 6"
    )
    rows2 = [(r["o_orderkey"], r["o_custkey"]) for r in d2.collect()]
    path_u = _fresh_dir(sf_dir, "lake_topk_u")
    orders.repartition(6).write.mode("overwrite").parquet(path_u)
    Z.write_zonemap(spark, path_u, ["o_orderkey"])
    tu = f"topku_{_uuid.uuid4().hex[:8]}"
    eng.register(tu, path_u)
    d3 = eng.df(
        f"SELECT o_orderkey, o_custkey FROM {tu} "
        f"ORDER BY o_orderkey DESC LIMIT 4"
    )
    rows3 = [(r["o_orderkey"], r["o_custkey"]) for r in d3.collect()]
    path_d = _fresh_dir(sf_dir, "lake_topk_d")
    (
        orders.repartitionByRange(8, "o_orderdate")
        .sortWithinPartitions("o_orderdate")
        .write.mode("overwrite")
        .parquet(path_d)
    )
    Z.write_zonemap(spark, path_d, ["o_orderdate"])
    td = f"topkd_{_uuid.uuid4().hex[:8]}"
    eng.register(td, path_d)
    d4 = eng.df(
        f"SELECT o_orderkey, o_custkey FROM {td} "
        f"ORDER BY date_trunc('month', o_orderdate) DESC, o_orderkey DESC "
        f"LIMIT 6"
    )
    rows4 = [(r["o_orderkey"], r["o_custkey"]) for r in d4.collect()]
    d5 = eng.df(
        f"SELECT o_orderkey, o_custkey FROM {t} "
        f"ORDER BY -o_orderkey ASC LIMIT 5"
    )
    rows5 = [(r["o_orderkey"], r["o_custkey"]) for r in d5.collect()]
    d6 = eng.df(
        f"SELECT o_orderkey, o_custkey FROM {t} "
        f"ORDER BY abs(o_orderkey) DESC, o_orderkey DESC LIMIT 4"
    )
    rows6 = [(r["o_orderkey"], r["o_custkey"]) for r in d6.collect()]
    spark.catalog.dropTempView(t)
    spark.catalog.dropTempView(tu)
    spark.catalog.dropTempView(td)
    shutil.rmtree(path, ignore_errors=True)
    shutil.rmtree(path_u, ignore_errors=True)
    shutil.rmtree(path_d, ignore_errors=True)
    return spark.createDataFrame(
        [("desc8", k, c) for k, c in rows1]
        + [("asc6", k, c) for k, c in rows2]
        + [("uncl4", k, c) for k, c in rows3]
        + [("trunc6", k, c) for k, c in rows4]
        + [("neg5", k, c) for k, c in rows5]
        + [("abs4", k, c) for k, c in rows6],
        StructType([
            StructField("q", StringType()),
            StructField("o_orderkey", LongType()),
            StructField("o_custkey", LongType()),
        ]),
    )


def lake_star_group_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star-join grouped aggregates through ``Engine.df`` — ``fact
    JOIN small dim ON one equi key, GROUP BY dim attribute`` over a
    zone-mapped UNCLUSTERED fact carrying per-(file, join-key) slices:
    the TPC-H q3/q5 dashboard shape. It runs on Spark's native plan;
    the key is kept as differential coverage of the engine path for an
    equi star, a NON-EQUI join, a MULTI-DIM chain (fact ⋈ nation ⋈
    region) and a mixed dim + fact grouping over composite slices. The
    DuckDB oracle recomputes all four from the raw fixture. Reference:
    quack-reduce executes every such dashboard query as a full DuckDB
    scan (app.py:51)."""
    import uuid as _uuid

    from quack_reduce_spark.engine import Engine
    from quack_reduce_spark.operators import zonemaps as Z

    cust = load(spark, sf_dir, "customer")
    path = _fresh_dir(sf_dir, "lake_star")
    cust.repartition(5).write.mode("overwrite").parquet(path)
    Z.write_zonemap(
        spark, path, ["c_custkey", "c_nationkey"],
        group_stats_cols=["c_nationkey"],
    )
    eng = Engine(spark=spark)
    tf = f"starf_{_uuid.uuid4().hex[:8]}"
    td = f"stard_{_uuid.uuid4().hex[:8]}"
    tr = f"starr_{_uuid.uuid4().hex[:8]}"
    eng.register(tf, path)
    eng.register(td, f"{sf_dir}/nation.parquet")
    eng.register(tr, f"{sf_dir}/region.parquet")
    d1 = eng.df(
        f"SELECT n_name, COUNT(*) AS n, SUM(c_custkey) AS s, "
        f"MIN(c_custkey) AS m FROM {tf} JOIN {td} "
        f"ON c_nationkey = n_nationkey WHERE n_regionkey <= 2 "
        f"GROUP BY n_name ORDER BY n_name"
    )
    rows1 = [(r["n_name"], r["n"], r["s"], r["m"]) for r in d1.collect()]
    d2 = eng.df(
        f"SELECT n_name, COUNT(*) AS n FROM {tf} JOIN {td} "
        f"ON c_nationkey < n_nationkey GROUP BY n_name ORDER BY n_name"
    )
    rows2 = [(r["n_name"], r["n"]) for r in d2.collect()]
    d3 = eng.df(
        f"SELECT r_name, COUNT(*) AS n FROM {tf} "
        f"JOIN {td} ON c_nationkey = n_nationkey "
        f"JOIN {tr} ON n_regionkey = r_regionkey "
        f"GROUP BY r_name ORDER BY r_name"
    )
    rows3 = [(r["r_name"], r["n"]) for r in d3.collect()]
    # mixed grouping: a dim attribute AND a fact column, over a fact
    # carrying COMPOSITE (c_nationkey, c_mktsegment) slices
    path_m = _fresh_dir(sf_dir, "lake_star_m")
    cust.repartition(5).write.mode("overwrite").parquet(path_m)
    # the composite key space is bounded by the schema (25 nations x 5
    # segments = 125 combos), not by the row count — size the per-file
    # slice cap to it, else every file of a >=sf0.01 fixture exceeds
    # the 64-entry default and is excluded wholesale
    Z.write_zonemap(
        spark, path_m, ["c_custkey", "c_nationkey", "c_mktsegment"],
        group_stats_cols=["c_nationkey,c_mktsegment"],
        group_stats_max=128,
    )
    tm = f"starm_{_uuid.uuid4().hex[:8]}"
    eng.register(tm, path_m)
    d4 = eng.df(
        f"SELECT c_mktsegment, n_name, COUNT(*) AS n FROM {tm} "
        f"JOIN {td} ON c_nationkey = n_nationkey "
        f"GROUP BY c_mktsegment, n_name ORDER BY c_mktsegment, n_name"
    )
    rows4 = [
        (f"{r['c_mktsegment']}/{r['n_name']}", r["n"]) for r in d4.collect()
    ]
    for t in (tf, td, tr, tm):
        spark.catalog.dropTempView(t)
    shutil.rmtree(path, ignore_errors=True)
    shutil.rmtree(path_m, ignore_errors=True)
    return spark.createDataFrame(
        [("star", nm, n, s, m) for nm, n, s, m in rows1]
        + [("nonequi", nm, n, None, None) for nm, n in rows2]
        + [("multidim", nm, n, None, None) for nm, n in rows3]
        + [("mixed", nm, n, None, None) for nm, n in rows4],
        StructType([
            StructField("q", StringType()),
            StructField("name", StringType()),
            StructField("n", LongType()),
            StructField("s", LongType()),
            StructField("m", LongType()),
        ]),
    )


QUERIES = {
    "lake_time_travel": lake_time_travel,
    "lake_change_feed": lake_change_feed,
    "lake_incremental_mv": lake_incremental_mv,
    "lake_schema_evolution": lake_schema_evolution,
    "lake_zonemap_skipping": lake_zonemap_skipping,
    "lake_zonemap_sql_pushdown": lake_zonemap_sql_pushdown,
    "lake_zonemap_in_pushdown": lake_zonemap_in_pushdown,
    "lake_manifest_stats": lake_manifest_stats,
    "lake_dpp_star": lake_dpp_star,
    "lake_bloom_pointlookup": lake_bloom_pointlookup,
    "lake_histogram_stats": lake_histogram_stats,
    "lake_ndv_stats": lake_ndv_stats,
    "lake_count_pushdown": lake_count_pushdown,
    "lake_sql_agg_pushdown": lake_sql_agg_pushdown,
    "lake_mv_rewrite": lake_mv_rewrite,
    "lake_result_cache": lake_result_cache,
    "lake_multikey_group_agg": lake_multikey_group_agg,
    "lake_timebucket_agg": lake_timebucket_agg,
    "lake_decimal_stats": lake_decimal_stats,
    "lake_group_agg_pushdown": lake_group_agg_pushdown,
    "lake_mv_stale_compensation": lake_mv_stale_compensation,
    "lake_mv_filtered": lake_mv_filtered,
    "lake_group_agg_unclustered": lake_group_agg_unclustered,
    "lake_decimal_wide_stats": lake_decimal_wide_stats,
    "lake_topk_pushdown": lake_topk_pushdown,
    "lake_star_group_pushdown": lake_star_group_pushdown,
    "lake_group_agg_multikey_unclustered": lake_group_agg_multikey_unclustered,
}


_SCENARIO_CTES = """
        WITH v1 AS (
            SELECT * FROM orders WHERE o_orderkey % 7 = 0
        ),
        upd AS (
            SELECT * REPLACE (o_totalprice * 2 AS o_totalprice)
            FROM orders WHERE o_orderkey % 21 = 0
            UNION ALL
            SELECT * FROM orders WHERE o_orderkey % 7 = 3 AND o_orderkey % 5 = 0
        ),
        v2 AS (
            SELECT * FROM v1
            WHERE o_orderkey NOT IN (SELECT o_orderkey FROM upd)
            UNION ALL SELECT * FROM upd
        ),
        v3 AS (
            SELECT * FROM v2 WHERE NOT (o_orderkey % 14 = 0)
        )
"""

ORACLES = {
    "lake_time_travel": _SCENARIO_CTES
    + """
        SELECT 'v1' AS snapshot, CAST(COUNT(*) AS BIGINT) AS n_rows,
               FLOOR(SUM(o_totalprice) * 1e2 + 0.5) / 1e2 AS sum_price FROM v1
        UNION ALL
        SELECT 'v2', CAST(COUNT(*) AS BIGINT),
               FLOOR(SUM(o_totalprice) * 1e2 + 0.5) / 1e2 FROM v2
        UNION ALL
        SELECT 'v3', CAST(COUNT(*) AS BIGINT),
               FLOOR(SUM(o_totalprice) * 1e2 + 0.5) / 1e2 FROM v3
        UNION ALL
        SELECT 'restored', CAST(COUNT(*) AS BIGINT),
               FLOOR(SUM(o_totalprice) * 1e2 + 0.5) / 1e2 FROM v1
    """,
    "lake_incremental_mv": _SCENARIO_CTES
    + """
        SELECT o_orderstatus,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               FLOOR(SUM(o_totalprice) * 1e2 + 0.5) / 1e2 AS sum_price
        FROM v3 GROUP BY o_orderstatus
    """,
    "lake_schema_evolution": """
        WITH v1 AS (
            SELECT o_orderkey, o_custkey, o_totalprice
            FROM orders WHERE o_orderkey % 7 = 0
        ),
        upd AS (
            SELECT o_orderkey, o_custkey, o_totalprice * 2 AS o_totalprice,
                   substring(o_orderpriority, 1, 1) AS priority_flag
            FROM orders WHERE o_orderkey % 21 = 0
            UNION ALL
            SELECT o_orderkey, o_custkey, o_totalprice,
                   substring(o_orderpriority, 1, 1)
            FROM orders WHERE o_orderkey % 7 = 3 AND o_orderkey % 5 = 0
        ),
        evolved AS (
            SELECT o_orderkey, o_custkey, o_totalprice,
                   CAST(NULL AS VARCHAR) AS priority_flag
            FROM v1
            WHERE o_orderkey NOT IN (SELECT o_orderkey FROM upd)
            UNION ALL SELECT * FROM upd
        )
        SELECT priority_flag,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               FLOOR(SUM(o_totalprice) * 1e2 + 0.5) / 1e2 AS sum_price,
               CAST(4 AS BIGINT) AS n_columns
        FROM evolved GROUP BY priority_flag
    """,
    "lake_change_feed": _SCENARIO_CTES
    + """
        , feed AS (
            -- v1 -> v2: new keys are inserts, doubled-price keys are
            -- updates (no deletes in a MERGE upsert)
            SELECT 'v1_v2' AS step, 'insert' AS change_type, o_orderkey
            FROM orders WHERE o_orderkey % 7 = 3 AND o_orderkey % 5 = 0
            UNION ALL
            SELECT 'v1_v2', 'update', o_orderkey
            FROM orders WHERE o_orderkey % 21 = 0
            UNION ALL
            -- v2 -> v3: the delete predicate's rows
            SELECT 'v2_v3', 'delete', o_orderkey
            FROM v2 WHERE o_orderkey % 14 = 0
        )
        SELECT step, change_type, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(o_orderkey) AS BIGINT) AS sum_keys
        FROM feed GROUP BY step, change_type
    """,
    # the pruned scan must be indistinguishable from a plain filter
    # over the raw fixture — file skipping is a pure planning move
    "lake_zonemap_skipping": """
        SELECT o_orderstatus,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               FLOOR(SUM(o_totalprice) * 1e2 + 0.5) / 1e2 AS sum_price
        FROM orders
        WHERE o_orderdate >= TIMESTAMP '1997-01-01'
          AND o_orderdate <= TIMESTAMP '1997-12-31'
        GROUP BY o_orderstatus
    """,
    "lake_zonemap_sql_pushdown": """
        SELECT o_orderstatus,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               FLOOR(SUM(o_totalprice) * 100 + 0.5) / 100 AS sum_price
        FROM orders
        WHERE o_orderdate >= TIMESTAMP '1997-01-01'
          AND o_orderdate <  TIMESTAMP '1998-01-01'
        GROUP BY o_orderstatus
    """,
    # the manifest's stats must be indistinguishable from recomputing
    # them over the raw rows — ANALYZE answers are exact, not estimates
    "lake_manifest_stats": """
        SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
               MIN(o_orderdate) AS min_date,
               MAX(o_orderdate) AS max_date,
               CAST(COUNT(*) FILTER (o_orderdate IS NULL) AS BIGINT) AS null_dates,
               MIN(o_totalprice) AS min_price,
               MAX(o_totalprice) AS max_price,
               CAST(COUNT(*) FILTER (o_totalprice IS NULL) AS BIGINT) AS null_prices
        FROM orders
    """,
    # same invariant for the IN-list value-set pruning path
    "lake_zonemap_in_pushdown": f"""
        SELECT o_orderstatus,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               FLOOR(SUM(o_totalprice) * 100 + 0.5) / 100 AS sum_price
        FROM orders
        WHERE o_orderdate IN (
            {", ".join(f"TIMESTAMP '{d} 00:00:00'" for d in IN_DATES)}
        )
        GROUP BY o_orderstatus
    """,
    # the oracle recomputes the star join over the raw fixtures
    "lake_dpp_star": """
        SELECT o_orderstatus,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               FLOOR(SUM(o_totalprice) * 100 + 0.5) / 100 AS sum_price
        FROM orders JOIN customer ON o_custkey = c_custkey
        WHERE c_name LIKE 'Customer#00000000%'
        GROUP BY o_orderstatus
    """,
    # fingerprint skipping must be invisible in the answer: the oracle
    # recomputes the same rank-chosen point lookup over the raw fixture
    "lake_bloom_pointlookup": """
        SELECT o_orderkey, o_orderstatus,
               FLOOR(o_totalprice * 100 + 0.5) / 100 AS price
        FROM orders
        WHERE o_orderkey IN (
            SELECT o_orderkey FROM (
                SELECT o_orderkey,
                       ROW_NUMBER() OVER (ORDER BY o_orderkey) AS rn,
                       COUNT(*) OVER () AS cnt
                FROM orders
            )
            WHERE rn = 1 OR rn = (cnt + 1) // 2 OR rn = cnt
        )
        ORDER BY o_orderkey
    """,
    # the histogram boundaries are EXACT quantiles: DuckDB's
    # quantile_cont shares Spark F.percentile's linear interpolation,
    # so recomputing the 9 boundaries from the raw fixture hash-proves
    # the manifest's estimation metadata exact
    "lake_histogram_stats": """
        WITH b AS (
            SELECT quantile_cont(o_totalprice,
                [0.0, 0.125, 0.25, 0.375, 0.5, 0.625, 0.75, 0.875, 1.0]
            ) AS bs
            FROM orders
        )
        SELECT CAST(g AS BIGINT) - 1 AS bin,
               FLOOR(bs[g] * 1000000 + 0.5) / 1000000 AS boundary
        FROM b, generate_series(1, 9) AS t(g)
        ORDER BY bin
    """,
}


def _ndv_stats_oracle() -> str:
    """DuckDB rebuild of the manifest's merged registers straight from
    the raw fixture — per-file register max is associative, so the
    direct global build must be IDENTICAL to the manifest merge — plus
    the same estimator arithmetic (the sketch_hll_estimate pairing)."""
    from quack_reduce_spark.inventory.sketches import _hll_est_sql
    from quack_reduce_spark.operators.sketches import (
        HLL_M,
        HLL_W_BITS,
        hll_rho_sql,
        md5_h32_sql,
    )

    h = md5_h32_sql("CAST(o_custkey AS VARCHAR)")
    rho = hll_rho_sql(f"(h % {1 << HLL_W_BITS})")
    est = _hll_est_sql()
    rnd4 = "FLOOR(({x}) * 1e4 + 0.5) / 1e4"
    return f"""
        WITH hashed AS (
            SELECT {h} AS h FROM orders
        ),
        regs AS (
            SELECT h // {1 << HLL_W_BITS} AS idx, MAX({rho}) AS M
            FROM hashed GROUP BY idx
        ),
        sums AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS nonzero,
                   SUM(POWER(2.0, -M)) AS present_sum
            FROM regs
        ),
        exact AS (
            SELECT CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS exact_custs
            FROM orders
        )
        SELECT CAST({HLL_M} AS BIGINT) AS m,
               s.nonzero AS regs_nonzero,
               {rnd4.format(x=est)} AS est_custs,
               e.exact_custs,
               {rnd4.format(x=f"ABS(({est}) - e.exact_custs) / e.exact_custs")} AS rel_err
        FROM sums s, exact e
    """


ORACLES["lake_ndv_stats"] = _ndv_stats_oracle()

# metadata-count pushdown must be invisible in the answer: the oracle
# recomputes both counts directly from the raw fixture
ORACLES["lake_count_pushdown"] = """
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM orders
            WHERE o_orderdate BETWEEN TIMESTAMP '1996-01-01'
                                  AND TIMESTAMP '1999-06-30') AS n_range,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM orders) AS n_total
"""

# SQL-surface aggregate pushdown must be invisible in the answer: the
# oracle recomputes all seven values straight from the raw fixture
ORACLES["lake_sql_agg_pushdown"] = """
    WITH slice AS (
        SELECT * FROM orders
        WHERE o_orderdate >= TIMESTAMP '1996-01-01'
          AND o_orderdate < TIMESTAMP '1999-07-01'
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM slice) AS n_range,
           (SELECT MIN(o_totalprice) FROM slice) AS mn_price,
           (SELECT MAX(o_totalprice) FROM slice) AS mx_price,
           (SELECT CAST(COUNT(o_totalprice) AS BIGINT) FROM slice) AS n_price,
           (SELECT CAST(SUM(o_orderkey) AS BIGINT) FROM slice) AS sum_key,
           (SELECT AVG(o_orderkey) FROM slice) AS avg_key,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM orders) AS n_total,
           (SELECT MIN(o_orderdate) FROM orders) AS mn_date,
           (SELECT MAX(o_orderdate) FROM orders) AS mx_date
"""

# multi-key grouped metadata aggregates (and the URI-escape manifest
# discipline) must be invisible in the answer: every group recomputed
# from the raw fixture, the appended state replayed as UNION ALL
ORACLES["lake_multikey_group_agg"] = """
    WITH appended AS (
        SELECT * FROM orders
        UNION ALL
        SELECT * FROM orders WHERE o_orderkey <= 50
    )
    SELECT o.o_orderstatus AS st,
           o.o_orderpriority AS pr,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(o_orderkey) AS BIGINT) AS sum_key,
           AVG(o_orderkey) AS avg_key,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM appended a
            WHERE a.o_orderstatus = o.o_orderstatus
              AND a.o_orderpriority = o.o_orderpriority) AS n2
    FROM orders o GROUP BY o.o_orderstatus, o.o_orderpriority
    ORDER BY st, pr
"""

# derived time-bucket groups must be invisible in the answer: every
# yearly bucket recomputed from the raw fixture
ORACLES["lake_timebucket_agg"] = """
    SELECT CAST(year(o_orderdate) AS INT) AS y,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(o_orderkey) AS BIGINT) AS sum_key,
           AVG(o_orderkey) AS avg_key
    FROM orders GROUP BY 1 ORDER BY y
"""

# the result cache must be invisible in the answer: the oracle
# recomputes the pre-append groups and post-append counts (replayed
# as UNION ALL) from the raw fixture
ORACLES["lake_result_cache"] = """
    WITH appended AS (
        SELECT * FROM orders
        UNION ALL
        SELECT * FROM orders WHERE o_orderkey <= 50
    )
    SELECT o.o_orderstatus AS st,
           CAST(COUNT(*) AS BIGINT) AS n,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM appended a
            WHERE a.o_orderstatus = o.o_orderstatus) AS n2
    FROM orders o GROUP BY o.o_orderstatus ORDER BY st
"""

# the MV rewrite, its staleness gate, and the refresh must all be
# invisible in the answer: the oracle recomputes the pre-append values
# from the raw fixture and the post-append counts from the same append
# replayed as a UNION ALL
ORACLES["lake_mv_rewrite"] = """
    WITH appended AS (
        SELECT * FROM orders
        UNION ALL
        SELECT * FROM orders WHERE o_orderkey <= 50
    )
    SELECT o.o_orderstatus AS st,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(o_orderkey) AS BIGINT) AS sum_key,
           AVG(o_orderkey) AS avg_key,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM appended a
            WHERE a.o_orderstatus = o.o_orderstatus) AS n2,
           (SELECT CAST(MIN(o_orderkey) AS BIGINT) FROM orders
            WHERE o_orderstatus = 'F') AS mn_f,
           (SELECT CAST(MAX(o_orderkey) AS BIGINT) FROM orders
            WHERE o_orderstatus = 'F') AS mx_f,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM orders
            WHERE o_orderstatus = 'F') AS n_f
    FROM orders o GROUP BY o.o_orderstatus ORDER BY st
"""

# decimal pruning must be invisible in the answer: the oracle replays
# every count through the same DECIMAL(12,2) cast on the raw fixture,
# including the data-dependent point key (the VALUE at sorted offset
# 700 is deterministic even under ties) and the non-representable
# 1000.005 bound (exact decimal comparison in both engines)
ORACLES["lake_decimal_stats"] = """
    WITH dec AS (
        SELECT CAST(o_totalprice AS DECIMAL(12,2)) AS price FROM orders
    ),
    k AS (SELECT price AS kp FROM dec ORDER BY price OFFSET 700 LIMIT 1)
    SELECT
      (SELECT CAST(COUNT(*) AS BIGINT) FROM dec
       WHERE price >= 1000.00 AND price < 300000.00) AS n_range,
      (SELECT CAST(MIN(price) AS DOUBLE) FROM dec
       WHERE price >= 1000.00 AND price < 300000.00) AS mn_price,
      (SELECT CAST(MAX(price) AS DOUBLE) FROM dec
       WHERE price >= 1000.00 AND price < 300000.00) AS mx_price,
      (SELECT CAST(SUM(price) AS DOUBLE) FROM dec
       WHERE price >= 1000.00 AND price < 300000.00) AS sum_price,
      (SELECT CAST(COUNT(*) AS BIGINT) FROM dec
       WHERE price IN (1000.25, 2000.25, 3000.25, 150000.25, 151000.25,
                       9000.75, 9100.75, 9200.75, 250000.75, 250100.75,
                       250200.75, 250300.75)) AS n_in,
      (SELECT CAST(COUNT(*) AS BIGINT) FROM dec
       WHERE price = (SELECT kp FROM k)) AS n_point,
      (SELECT CAST(COUNT(*) AS BIGINT) FROM dec
       WHERE price >= 1000.005 AND price <= 20000.00) AS n_cw
"""

# grouped metadata aggregates must be invisible in the answer: the
# oracle recomputes every group (and the range-count column) straight
# from the raw fixture
ORACLES["lake_group_agg_pushdown"] = """
    SELECT o_orderstatus AS st,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(o_orderkey) AS BIGINT) AS sum_key,
           CAST(MIN(o_orderkey) AS BIGINT) AS mn_key,
           AVG(o_orderkey) AS avg_key,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM orders i
            WHERE i.o_orderstatus = o.o_orderstatus
              AND i.o_orderdate >= TIMESTAMP '1996-01-01') AS n_range
    FROM orders o GROUP BY o_orderstatus ORDER BY st
"""

# the compensated rewrite must be invisible in the answer: pre-append
# values from the raw fixture, post-append values from the same append
# replayed as UNION ALL
ORACLES["lake_mv_stale_compensation"] = """
    WITH appended AS (
        SELECT * FROM orders
        UNION ALL
        SELECT * FROM orders WHERE o_orderkey <= 100
    )
    SELECT o.o_orderstatus AS st,
           CAST(COUNT(*) AS BIGINT) AS n_pre,
           CAST(SUM(o_orderkey) AS BIGINT) AS s_pre,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM appended a
            WHERE a.o_orderstatus = o.o_orderstatus) AS n_post,
           (SELECT CAST(SUM(o_orderkey) AS BIGINT) FROM appended a
            WHERE a.o_orderstatus = o.o_orderstatus) AS s_post,
           (SELECT CAST(MAX(o_orderkey) AS BIGINT) FROM appended a
            WHERE a.o_orderstatus = o.o_orderstatus) AS mx_post
    FROM orders o GROUP BY o.o_orderstatus ORDER BY st
"""

# the filtered-MV rewrite, its containment gate, and the declines must
# all be invisible: every column recomputes from the raw fixture
ORACLES["lake_mv_filtered"] = """
    SELECT o_orderstatus AS st,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(o_orderkey) AS BIGINT) AS s,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM orders
            WHERE o_orderkey > 1000 AND o_orderstatus = 'F') AS n_f,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM orders) AS n_all,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM orders
            WHERE o_orderkey > 500) AS n_500,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM orders
            WHERE o_orderkey > 1000
              AND EXTRACT(year FROM o_orderdate) =
                  (SELECT MIN(EXTRACT(year FROM o_orderdate)) FROM orders
                   WHERE o_orderkey > 1000)) AS n_y0,
           (SELECT CAST(MIN(EXTRACT(year FROM o_orderdate)) AS INT)
            FROM orders WHERE o_orderkey > 1000) AS y0,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM orders
            WHERE o_orderkey > 1000
              AND o_orderdate >= DATE '1995-03-15') AS n_resid
    FROM orders WHERE o_orderkey > 1000
    GROUP BY o_orderstatus ORDER BY st
"""

# wide-decimal pruning must be invisible: the oracle replays every
# count through the same DECIMAL(38,4) cast on the raw fixture (the
# values carry <= 4 fractional digits of <= 6-digit prices, so the
# DOUBLE casts on both sides are exactly representable)
ORACLES["lake_decimal_wide_stats"] = """
    WITH dec AS (
        SELECT CAST(o_totalprice AS DECIMAL(38,4)) AS price FROM orders
    )
    SELECT
      (SELECT CAST(COUNT(*) AS BIGINT) FROM dec
       WHERE price >= 1000.0000 AND price < 300000.0000) AS n_range,
      (SELECT CAST(MIN(price) AS DOUBLE) FROM dec
       WHERE price >= 1000.0000 AND price < 300000.0000) AS mn_price,
      (SELECT CAST(MAX(price) AS DOUBLE) FROM dec
       WHERE price >= 1000.0000 AND price < 300000.0000) AS mx_price,
      (SELECT CAST(COUNT(*) AS BIGINT) FROM dec
       WHERE price IN (1000.25, 2000.25, 3000.25, 150000.25, 151000.25,
                       9000.75, 9100.75, 9200.75, 250000.75, 250100.75,
                       250200.75, 250300.75)) AS n_in,
      (SELECT CAST(COUNT(*) AS BIGINT) FROM dec
       WHERE price >= 1000.0050 AND price <= 20000.0000) AS n_cw,
      (SELECT CAST(SUM(price) AS VARCHAR) FROM dec
       WHERE price >= 1000.0000 AND price < 300000.0000) AS s_range,
      (SELECT FLOOR(AVG(price) * 1e4 + 0.5) / 1e4 FROM dec
       WHERE price >= 1000.0000 AND price < 300000.0000) AS a_range_rnd
"""

# per-group manifest partials must be invisible: every group (and the
# post-append counts) recompute from the raw fixture
# composite slice partials must be invisible: both groupings recompute
# from the raw fixture
ORACLES["lake_group_agg_multikey_unclustered"] = """
    SELECT o.o_orderstatus AS st, o.o_orderpriority AS pr,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(o_orderkey) AS BIGINT) AS sum_key,
           CAST(MIN(o_orderkey) AS BIGINT) AS mn_key,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM orders i
            WHERE i.o_orderpriority = o.o_orderpriority) AS n_pr
    FROM orders o GROUP BY 1, 2 ORDER BY st, pr
"""

ORACLES["lake_star_group_pushdown"] = """
    SELECT 'star' AS q, n_name AS name, n, s, m FROM (
        SELECT n_name, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(c_custkey) AS BIGINT) AS s,
               CAST(MIN(c_custkey) AS BIGINT) AS m
        FROM customer JOIN nation ON c_nationkey = n_nationkey
        WHERE n_regionkey <= 2 GROUP BY n_name)
    UNION ALL
    SELECT 'nonequi' AS q, n_name AS name, n, NULL AS s, NULL AS m FROM (
        SELECT n_name, CAST(COUNT(*) AS BIGINT) AS n
        FROM customer JOIN nation ON c_nationkey < n_nationkey
        GROUP BY n_name)
    UNION ALL
    SELECT 'multidim' AS q, r_name AS name, n, NULL AS s, NULL AS m FROM (
        SELECT r_name, CAST(COUNT(*) AS BIGINT) AS n
        FROM customer JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        GROUP BY r_name)
    UNION ALL
    SELECT 'mixed' AS q, c_mktsegment || '/' || n_name AS name, n,
           NULL AS s, NULL AS m FROM (
        SELECT c_mktsegment, n_name, CAST(COUNT(*) AS BIGINT) AS n
        FROM customer JOIN nation ON c_nationkey = n_nationkey
        GROUP BY c_mktsegment, n_name)
"""

# every variant recomputes from the raw fixture with the same
# deterministic (unique-key) ordering
ORACLES["lake_topk_pushdown"] = """
    SELECT 'desc8' AS q, o_orderkey, o_custkey FROM (
        SELECT o_orderkey, o_custkey FROM orders
        ORDER BY o_orderkey DESC LIMIT 8)
    UNION ALL
    SELECT 'asc6' AS q, o_orderkey, o_custkey FROM (
        SELECT o_orderkey, o_custkey FROM orders
        WHERE o_orderkey >= 500 ORDER BY o_orderkey ASC LIMIT 6)
    UNION ALL
    SELECT 'uncl4' AS q, o_orderkey, o_custkey FROM (
        SELECT o_orderkey, o_custkey FROM orders
        ORDER BY o_orderkey DESC LIMIT 4)
    UNION ALL
    SELECT 'trunc6' AS q, o_orderkey, o_custkey FROM (
        SELECT o_orderkey, o_custkey FROM orders
        ORDER BY date_trunc('month', o_orderdate) DESC, o_orderkey DESC
        LIMIT 6)
    UNION ALL
    SELECT 'neg5' AS q, o_orderkey, o_custkey FROM (
        SELECT o_orderkey, o_custkey FROM orders
        ORDER BY -o_orderkey ASC LIMIT 5)
    UNION ALL
    SELECT 'abs4' AS q, o_orderkey, o_custkey FROM (
        SELECT o_orderkey, o_custkey FROM orders
        ORDER BY abs(o_orderkey) DESC, o_orderkey DESC LIMIT 4)
"""

ORACLES["lake_group_agg_unclustered"] = """
    WITH appended AS (
        SELECT * FROM orders
        UNION ALL
        SELECT * FROM orders WHERE o_orderkey <= 200
    )
    SELECT o.o_orderstatus AS st,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(o_orderkey) AS BIGINT) AS sum_key,
           CAST(MIN(o_orderkey) AS BIGINT) AS mn_key,
           AVG(o_orderkey) AS avg_key,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM appended a
            WHERE a.o_orderstatus = o.o_orderstatus) AS n_post
    FROM orders o GROUP BY o.o_orderstatus ORDER BY st
"""
