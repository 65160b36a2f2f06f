"""Stats-planned lakehouse tour — the round-9..12 planning stack in one
script: clustered write -> automatic SQL file skipping (range / IN /
OR / LIKE / IS NULL) -> ANALYZE from metadata -> estimate-driven join
planning -> layout degradation by random appends -> OPTIMIZE restoring
pruning -> the round-12 metadata layers (per-file Bloom fingerprints,
equi-depth histograms, per-file HLL NDV sketches, and dynamic file
pruning from join dimensions) -> the round-13/14 acceleration
stack (SQL aggregate pushdown, unclustered per-group slice partials,
MV rewrite with stale compensation and predicate containment, the
result cache). Every step prints the engine's own telemetry, so the
output IS the evidence.

The reference re-lists and re-reads full objects per query
(``quack.py:145``) and defers table formats (``README.md:190``); this
is the read-planning half of a table format on plain parquet.

Run:  python examples/stats_planning.py [sf_dir]
"""

from __future__ import annotations

import sys
import tempfile

sys.path.insert(0, "/root/repo")

import pyspark.sql.functions as F  # noqa: E402

from quack_reduce_spark.engine import Engine  # noqa: E402
from quack_reduce_spark.inventory._util import load  # noqa: E402
from quack_reduce_spark.session import get_spark  # noqa: E402


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_spark("stats-planning-example")
    eng = Engine(spark=spark)
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer")

    with tempfile.TemporaryDirectory(prefix="qrs_statsplan_") as tmp:
        table = f"{tmp}/orders"

        # 1. one call -> prunable table (range-clustered + manifest)
        n_files = eng.write_clustered(orders, table, ["o_orderdate"], n_files=12)
        eng.register("orders_c", table)
        print(f"[1] write_clustered: {n_files} files, manifest built")

        # 2. plain SQL range query: the engine plans from the manifest
        res = eng.sql(
            "SELECT o_orderstatus, COUNT(*) AS n FROM orders_c "
            "WHERE o_orderdate >= TIMESTAMP '1997-01-01' "
            "AND o_orderdate < TIMESTAMP '1998-01-01' GROUP BY 1",
            limit=5,
        )
        print(f"[2] range query zonemap telemetry: {res.metadata.get('zonemap')}")

        # 3. IN / OR / LIKE / IS NULL all prune too
        eng.df(
            "SELECT COUNT(*) AS n FROM orders_c WHERE o_orderdate IN "
            "(TIMESTAMP '1995-06-17 00:00:00', TIMESTAMP '1997-02-03 00:00:00')"
        ).collect()
        print(f"[3] IN-list telemetry: {eng.last_zonemap_report.get('orders_c')}")

        # 4. ANALYZE from metadata — zero data scanned, exact numbers
        st = eng.table_stats("orders_c")
        d = st["columns"]["o_orderdate"]
        print(
            f"[4] table_stats: rows={st['n_rows']} files={st['n_files']} "
            f"dates=[{d['min']} .. {d['max']}] nulls={d['nulls']}"
        )

        # 5. estimate-driven join planning: the filtered dim broadcasts
        dim = cust.filter("c_acctbal > 9000").withColumnRenamed(
            "c_custkey", "o_custkey"
        )
        eng.plan_join(eng.spark.table("orders_c"), dim, "o_custkey")
        print(f"[5] plan_join strategy: {eng.last_join_plan['strategy']}")

        # 6. random appends degrade the layout: no skipping possible
        orders.limit(500).repartition(3).write.mode("append").parquet(table)
        from quack_reduce_spark.operators.zonemaps import append_zonemap

        append_zonemap(spark, table, ["o_orderdate"])
        eng.register("orders_c", table)
        eng.df(
            "SELECT COUNT(*) AS n FROM orders_c "
            "WHERE o_orderdate >= TIMESTAMP '1997-01-01' "
            "AND o_orderdate < TIMESTAMP '1997-02-01'"
        ).collect()
        print(f"[6] after random appends: {eng.last_zonemap_report.get('orders_c')}")

        # 7. OPTIMIZE: crash-safe re-cluster + manifest rebuild
        stats = eng.optimize(table, ["o_orderdate"], target_rows_per_file=200)
        eng.register("orders_c", table)
        eng.df(
            "SELECT COUNT(*) AS n FROM orders_c "
            "WHERE o_orderdate >= TIMESTAMP '1997-01-01' "
            "AND o_orderdate < TIMESTAMP '1997-02-01'"
        ).collect()
        print(
            f"[7] optimize {stats['files_before']}->{stats['files_after']} files; "
            f"pruning restored: {eng.last_zonemap_report.get('orders_c')}"
        )

        # 8. the round-12 metadata layers in ONE sink call: cluster by
        # date, FINGERPRINT the key (point lookups on any layout),
        # HISTOGRAM the price (range selectivity), NDV-sketch the key
        # (metadata-only join cardinality)
        lkp = f"{tmp}/orders_lkp"
        eng.write_clustered(
            orders, lkp, ["o_orderdate"], n_files=12,
            bloom_cols=["o_orderkey"],
            hist_cols=["o_totalprice"],
            ndv_cols=["o_orderkey"],
        )
        eng.register("orders_lkp", lkp)
        st = eng.table_stats("orders_lkp")
        print(
            f"[8] metadata layers: bloom={st['bloom_cols']} "
            f"hist={st['hist_cols']} ndv={st['ndv_cols']} "
            f"o_orderkey ndv_est={st['columns']['o_orderkey'].get('ndv_est')}"
        )

        # 9. point lookup on the UNCLUSTERED key: the date-clustered
        # layout gives every file the full key range — only the Bloom
        # fingerprint can skip, and it does, at plan time, driver-side
        mid_key = orders.approxQuantile("o_orderkey", [0.5], 0.0)[0]
        eng.df(
            f"SELECT COUNT(*) AS n FROM orders_lkp "
            f"WHERE o_orderkey = {int(mid_key)}"
        ).collect()
        print(f"[9] bloom point lookup: {eng.last_zonemap_report.get('orders_lkp')}")

        # 10. a FILTERED side is sized from the histogram — no
        # counting scan — and the tiny slice flips to broadcast
        sliced = eng.spark.table("orders_lkp").filter("o_totalprice <= 30000")
        li = load(spark, sf_dir, "lineitem").withColumnRenamed(
            "l_orderkey", "o_orderkey"
        )
        rep = eng.explain_join(sliced, li, "o_orderkey")
        print(
            f"[10] filtered-side sizing: source={rep['left']['source']} "
            f"rows~{rep['left']['rows']} strategy={rep['strategy']}"
        )

        # 11. both sides register-sketched: join size estimated from
        # metadata alone — the key-overlap sample never executes
        lil = f"{tmp}/lineitem_lkp"
        eng.write_clustered(
            li, lil, ["o_orderkey"], n_files=8, ndv_cols=["o_orderkey"]
        )
        eng.register("lineitem_lkp", lil)
        rep = eng.explain_join("orders_lkp", "lineitem_lkp", "o_orderkey")
        print(
            f"[11] metadata-only join estimate: source="
            f"{rep['join_est_source']} est_rows~{int(rep['est_join_rows'])}"
        )

        # 12. dynamic file pruning from a join dimension: the star
        # query's ONLY predicate is on the dim side, yet the custkey-
        # clustered fact skips files — the engine derives the
        # surviving join keys from the dim subplan at plan time
        fact = f"{tmp}/orders_ck"
        eng.write_clustered(orders, fact, ["o_custkey"], n_files=12)
        eng.register("fact_ck", fact)
        eng.register("dim_cust", f"{sf_dir.rstrip('/')}/customer.parquet")
        eng.df(
            "SELECT COUNT(*) AS n FROM fact_ck "
            "JOIN dim_cust ON o_custkey = c_custkey "
            "WHERE c_name LIKE 'Customer#00000000%'"
        ).collect()
        print(f"[12] DPP from dim filter: {eng.last_zonemap_report.get('fact_ck')}")

        # 13. the SAME star re-planned: the plan-time key set is served
        # from the canonicalized-subplan cache — zero Spark jobs
        from quack_reduce_spark.plans import zonemap_pushdown as _zp

        before = dict(_zp.DPP_COUNTS)
        eng.df(
            "SELECT COUNT(*) AS n FROM fact_ck "
            "JOIN dim_cust ON o_custkey = c_custkey "
            "WHERE c_name LIKE 'Customer#00000000%'"
        ).collect()
        print(
            f"[13] repeat planning: evals +{_zp.DPP_COUNTS['evals'] - before['evals']}, "
            f"cache hits +{_zp.DPP_COUNTS['cache_hits'] - before['cache_hits']}"
        )

        # 14. the dashboard count itself (round 13): a scalar aggregate
        # through plain SQL answers from metadata — contained files
        # contribute exact partials unread, only boundary files scan,
        # and the whole-table count compiles to a plan with NO file
        # scan node at all
        res = eng.sql(
            "SELECT COUNT(*) AS n, MIN(o_orderdate) AS mn "
            "FROM orders_c WHERE o_orderdate >= TIMESTAMP '1996-01-01'"
        )
        print(f"[14] SQL agg pushdown: {res.metadata['zonemap']}")

        # 15. decimal stats in unscaled-int space: a price-clustered
        # decimal table prunes on plain SQL decimal ranges
        decp = f"{tmp}/orders_dec"
        dec = orders.withColumn(
            "price", F.col("o_totalprice").cast("decimal(12,2)")
        )
        eng.write_clustered(dec, decp, ["price"], n_files=12)
        eng.register("orders_dec", decp)
        eng.df(
            "SELECT price FROM orders_dec "
            "WHERE price BETWEEN 1000.00 AND 20000.00"
        ).collect()
        print(f"[15] decimal range pruning: {eng.last_zonemap_report.get('orders_dec')}")

        # 16. the time-series dashboard (late round 13): GROUP BY
        # year(d) pins date-clustered files to their bucket from
        # metadata; unique-per-bucket (the DAU shape) composes when
        # the distinct column is statted too
        daup = f"{tmp}/orders_dau"
        eng.write_clustered(
            orders, daup, ["o_orderdate"], n_files=12,
            stats_cols=["o_orderdate", "o_custkey", "o_orderkey"],
        )
        eng.register("orders_dau", daup)
        eng.df(
            "SELECT year(o_orderdate) AS y, COUNT(*) AS n, "
            "COUNT(DISTINCT o_custkey) AS u FROM orders_dau "
            "GROUP BY 1 ORDER BY y"
        ).collect()
        print(f"[16] time-bucket + unique-per-bucket: {eng.last_agg_plan}")

        # 17. a monthly summary MV with transparent rewrite: the
        # yearly query rebuckets the monthly partials (rollup across
        # granularities), and incremental refresh reads only appends.
        # A PLAIN (manifest-less) table shows the MV path — on a
        # manifested table the metadata agg pushdown would win first
        plainp = f"{tmp}/orders_plain"
        orders.write.mode("overwrite").parquet(plainp)
        eng.register("orders_plain", plainp)
        eng.create_materialized_view(
            "orders_monthly",
            "SELECT trunc(o_orderdate,'month') AS m, COUNT(*) AS n, "
            "SUM(o_orderkey) AS s, COUNT(o_orderkey) AS nk "
            "FROM orders_plain GROUP BY 1",
            f"{tmp}/mv_monthly",
        )
        eng.df(
            "SELECT year(o_orderdate) AS y, AVG(o_orderkey) AS a "
            "FROM orders_plain GROUP BY 1"
        ).collect()
        print(f"[17] yearly-over-monthly MV rewrite: {eng.last_mv_rewrite}")

        # 18. the result cache: the second identical envelope query
        # returns with ZERO Spark jobs; any commit invalidates
        q = "SELECT COUNT(*) AS n FROM orders_plain"
        eng.sql(q)
        res = eng.sql(q)
        print(f"[18] result cache: {res.metadata['result_cache']}")

        # 19. UNCLUSTERED group pushdown (round 14): the table is
        # round-robin laid out — every file mixes every status, so
        # file-level pinning can never answer a GROUP BY — but
        # per-(file, value) slice partials in the manifest do, at
        # zero files scanned; the dashboard's scalar widget COUNT
        # with an equality rides the same slices
        from quack_reduce_spark.operators.zonemaps import write_zonemap

        gsp = f"{tmp}/orders_gs"
        orders.repartition(6).write.mode("overwrite").parquet(gsp)
        write_zonemap(
            spark, gsp, ["o_orderstatus", "o_orderkey"],
            group_stats_cols=["o_orderstatus"],
        )
        eng.register("orders_gs", gsp)
        eng.df(
            "SELECT o_orderstatus, COUNT(*) AS n, SUM(o_orderkey) AS s "
            "FROM orders_gs GROUP BY 1"
        ).collect()
        print(f"[19] unclustered group pushdown: {eng.last_agg_plan}")
        eng.df(
            "SELECT COUNT(*) AS n FROM orders_gs WHERE o_orderstatus = 'F'"
        ).collect()
        print(f"[19]   scalar widget over slices: {eng.last_agg_plan}")

        # 20. stale-MV compensation (round 14): the source APPENDS and
        # the MV still rewrites — its partials union an aggregate over
        # ONLY the verified delta files; after a refresh the plain
        # rewrite resumes
        orders.limit(300).write.mode("append").parquet(plainp)
        eng.df(
            "SELECT trunc(o_orderdate,'month') AS m, COUNT(*) AS n "
            "FROM orders_plain GROUP BY 1"
        ).collect()
        print(f"[20] stale-MV compensation: {eng.last_mv_rewrite}")
        eng.refresh_materialized_view("orders_monthly", incremental=True)
        eng.df(
            "SELECT trunc(o_orderdate,'month') AS m, COUNT(*) AS n "
            "FROM orders_plain GROUP BY 1"
        ).collect()
        print(f"[20]   after incremental refresh: {eng.last_mv_rewrite}")

        # 21. a PREDICATE-bearing MV (the reference's own dbt model is
        # a filtered aggregate view): rewrites require the query
        # predicate to CONTAIN the MV's; wider queries run plain
        eng.create_materialized_view(
            "orders_bigkeys",
            "SELECT o_orderstatus, COUNT(*) AS n FROM orders_plain "
            "WHERE o_orderkey > 1000 GROUP BY 1",
            f"{tmp}/mv_bigkeys",
        )
        eng.df(
            "SELECT COUNT(*) AS n FROM orders_plain "
            "WHERE o_orderkey > 1000 AND o_orderstatus = 'F'"
        ).collect()
        print(f"[21] filtered-MV containment rewrite: {eng.last_mv_rewrite}")

        # 22. COMPOSITE slice keys (round 15): GROUP BY over TWO
        # columns where neither clusters — per-(file, a, b) slice rows
        # answer at zero files scanned
        gsp2 = f"{tmp}/orders_gs2"
        orders.repartition(6).write.mode("overwrite").parquet(gsp2)
        write_zonemap(
            spark, gsp2, ["o_orderstatus", "o_orderpriority", "o_orderkey"],
            group_stats_cols=["o_orderstatus,o_orderpriority"],
        )
        eng.register("orders_gs2", gsp2)
        eng.df(
            "SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n "
            "FROM orders_gs2 GROUP BY 1, 2"
        ).collect()
        print(f"[22] composite-key slice pushdown: {eng.last_agg_plan}")

        # 23. MV lifecycle across maintenance (round 15): optimize the
        # MV's source — the hook marks the MV and the next query
        # self-refreshes it, so the rewrite stays alive with no manual
        # refresh call
        eng.optimize(plainp, cluster_by=["o_orderkey"])
        eng.register("orders_plain", plainp)
        eng.df(
            "SELECT trunc(o_orderdate,'month') AS m, COUNT(*) AS n "
            "FROM orders_plain GROUP BY 1"
        ).collect()
        print(f"[23] MV alive after optimize (self-refreshed): {eng.last_mv_rewrite}")


if __name__ == "__main__":
    main()
