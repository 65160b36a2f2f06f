"""Per-file PER-GROUP manifest partials (round 14, VERDICT r13 #2 —
the Iceberg partition-stats shape): ``write_zonemap(...,
group_stats_cols=[c])`` records one stats row per (file, value of c),
so the grouped aggregate pushdown answers ``GROUP BY c`` from metadata
on UNCLUSTERED layouts — exactly the reference benchmark's grouped
count (``benchmark.py:133-141``) without requiring files to be
single-valued on the key."""

from __future__ import annotations

import pyspark.sql.functions as F

from quack_reduce_spark.engine import Engine
from quack_reduce_spark.inventory._util import load
from quack_reduce_spark.operators import zonemaps as Z


def _unclustered(spark, sf_dir, tmp_path, name, n_files=6):
    """Orders repartitioned round-robin so EVERY file mixes every
    o_orderstatus value — the layout file-level pinning cannot answer."""
    src = str(tmp_path / name)
    load(spark, sf_dir, "orders").repartition(n_files).write.mode(
        "overwrite"
    ).parquet(src)
    return src


def test_group_stats_unclustered_zero_scan(spark, sf_dir, tmp_path):
    src = _unclustered(spark, sf_dir, tmp_path, "gs1")
    Z.write_zonemap(
        spark, src, ["o_orderstatus", "o_orderkey"],
        group_stats_cols=["o_orderstatus"],
    )
    eng = Engine(spark=spark)
    eng.register("gs1", src)
    full = spark.read.parquet(src)
    # sanity: the layout is NOT answerable by file-level pinning
    assert full.select("o_orderstatus").distinct().count() > 1
    d = eng.df(
        "SELECT o_orderstatus, COUNT(*) AS n, SUM(o_orderkey) AS s, "
        "MIN(o_orderkey) AS mn, AVG(o_orderkey) AS a FROM gs1 "
        "GROUP BY o_orderstatus"
    )
    tele = eng.last_agg_plan
    assert tele is not None, "grouped pushdown must fire"
    assert tele["files_scanned"] == 0, tele
    assert tele["files_group_stats"] >= 1
    assert tele["group_stats_col"] == "o_orderstatus"
    got = sorted(map(tuple, d.collect()))
    want = sorted(
        map(
            tuple,
            full.groupBy("o_orderstatus").agg(
                F.count(F.lit(1)).alias("n"),
                F.sum("o_orderkey").alias("s"),
                F.min("o_orderkey").alias("mn"),
                F.avg("o_orderkey").alias("a"),
            ).collect(),
        )
    )
    assert got == want
    spark.catalog.dropTempView("gs1")


def test_group_stats_predicates_classify_per_slice(spark, sf_dir, tmp_path):
    """A conjunct on the GROUP column classifies exactly per slice
    (slice min == max == the value): zero files scanned even though
    every file mixes groups; a range on another statted column stays
    correct via the boundary scan when slices straddle it."""
    src = _unclustered(spark, sf_dir, tmp_path, "gs2")
    Z.write_zonemap(
        spark, src, ["o_orderstatus", "o_orderkey"],
        group_stats_cols=["o_orderstatus"],
    )
    eng = Engine(spark=spark)
    eng.register("gs2", src)
    full = spark.read.parquet(src)
    r = eng.df(
        "SELECT o_orderstatus, COUNT(*) AS n FROM gs2 "
        "WHERE o_orderstatus = 'F' GROUP BY o_orderstatus"
    )
    tele = eng.last_agg_plan
    assert tele is not None and tele["files_scanned"] == 0, tele
    assert [tuple(x) for x in r.collect()] == [
        tuple(x)
        for x in full.filter(F.col("o_orderstatus") == "F")
        .groupBy("o_orderstatus")
        .count()
        .collect()
    ]
    # range on o_orderkey: slices straddle the bound -> boundary scan,
    # results exact either way
    mid = full.agg(F.expr("percentile_approx(o_orderkey, 0.5)")).first()[0]
    d2 = eng.df(
        f"SELECT o_orderstatus, COUNT(*) AS n FROM gs2 "
        f"WHERE o_orderkey <= {int(mid)} GROUP BY o_orderstatus"
    )
    got = sorted(map(tuple, d2.collect()))
    want = sorted(
        map(
            tuple,
            full.filter(F.col("o_orderkey") <= int(mid))
            .groupBy("o_orderstatus")
            .count()
            .collect(),
        )
    )
    assert got == want
    spark.catalog.dropTempView("gs2")


def test_group_stats_append_only_delta(spark, sf_dir, tmp_path):
    """append_zonemap stats ONLY the delta files' slices (existing
    group-stats rows are immutable), the entries count tracks, and the
    query reflects the appended rows at zero files scanned."""
    src = _unclustered(spark, sf_dir, tmp_path, "gs3", n_files=4)
    Z.write_zonemap(
        spark, src, ["o_orderstatus", "o_orderkey"],
        group_stats_cols=["o_orderstatus"],
    )
    n0 = Z.group_stats_config(src)["o_orderstatus"]["entries"]
    load(spark, sf_dir, "orders").limit(500).repartition(2).write.mode(
        "append"
    ).parquet(src)
    assert Z.append_zonemap(spark, src, ["o_orderstatus", "o_orderkey"]) == 2
    cfg = Z.group_stats_config(src)["o_orderstatus"]
    assert cfg["entries"] > n0
    eng = Engine(spark=spark)
    eng.register("gs3", src)
    d = eng.df(
        "SELECT o_orderstatus, COUNT(*) AS n FROM gs3 GROUP BY o_orderstatus"
    )
    tele = eng.last_agg_plan
    assert tele is not None and tele["files_scanned"] == 0, tele
    want = sorted(
        map(
            tuple,
            spark.read.parquet(src).groupBy("o_orderstatus").count().collect(),
        )
    )
    assert sorted(map(tuple, d.collect())) == want
    spark.catalog.dropTempView("gs3")


def test_group_stats_cap_excludes_high_ndv_files(spark, sf_dir, tmp_path):
    """A file with more distinct values than max_groups is EXCLUDED
    from the stats table and scanned as a boundary file — results stay
    exact, manifest size stays bounded."""
    src = _unclustered(spark, sf_dir, tmp_path, "gs4", n_files=3)
    Z.write_zonemap(
        spark, src, ["o_orderkey"],
        group_stats_cols=["o_orderkey"], group_stats_max=8,
    )
    cfg = Z.group_stats_config(src)["o_orderkey"]
    assert cfg["entries"] == 0  # every file has >> 8 distinct keys
    eng = Engine(spark=spark)
    eng.register("gs4", src)
    full = spark.read.parquet(src)
    d = eng.df(
        "SELECT o_orderkey, COUNT(*) AS n FROM gs4 "
        "GROUP BY o_orderkey ORDER BY o_orderkey LIMIT 5"
    )
    got = [tuple(r) for r in d.collect()]
    want = [
        tuple(r)
        for r in full.groupBy("o_orderkey")
        .count()
        .orderBy("o_orderkey")
        .limit(5)
        .collect()
    ]
    assert got == want
    tele = eng.last_agg_plan
    if tele is not None:  # pushdown may fire with a full boundary scan
        assert tele.get("files_group_stats", 0) == 0
    spark.catalog.dropTempView("gs4")


def test_group_stats_cached_and_validated(spark, sf_dir, tmp_path):
    """The slice rows are served from the epoch-keyed cache (one read
    per manifest commit), and non-stats / unsupported-type columns are
    refused at write time."""
    import pytest

    src = _unclustered(spark, sf_dir, tmp_path, "gs5", n_files=3)
    with pytest.raises(ValueError):
        Z.write_zonemap(
            spark, src, ["o_orderkey"], group_stats_cols=["o_orderstatus"]
        )  # not a stats column
    with pytest.raises(ValueError):
        Z.write_zonemap(
            spark, src, ["o_orderkey", "o_totalprice"],
            group_stats_cols=["o_totalprice"],
        )  # unsupported value type for exact row rendering
    Z.write_zonemap(
        spark, src, ["o_orderstatus", "o_orderkey"],
        group_stats_cols=["o_orderstatus"],
    )
    before = Z.IO_COUNTS["group_reads"]
    a = Z.group_stats_rows(spark, src, "o_orderstatus")
    b = Z.group_stats_rows(spark, src, "o_orderstatus")
    assert a is not None and b is a  # cache hit, same object
    assert Z.IO_COUNTS["group_reads"] == before + 1
    # inherit-on-None: a maintenance rebuild keeps the config
    Z.write_zonemap(spark, src, ["o_orderstatus", "o_orderkey"])
    assert "o_orderstatus" in Z.group_stats_config(src)


def test_group_stats_scalar_widget_zero_scan(spark, sf_dir, tmp_path):
    """The reference dashboard's widget shape — a SCALAR COUNT with an
    equality on a low-NDV column (dashboard.py:37) — answers from the
    slice stats at zero files scanned on an UNCLUSTERED layout, and
    COUNT(DISTINCT gcol) pins every slice by construction."""
    src = _unclustered(spark, sf_dir, tmp_path, "gs6")
    Z.write_zonemap(
        spark, src, ["o_orderstatus", "o_orderkey"],
        group_stats_cols=["o_orderstatus"],
    )
    eng = Engine(spark=spark)
    eng.register("gs6", src)
    full = spark.read.parquet(src)
    r = eng.df(
        "SELECT COUNT(*) AS n, MIN(o_orderkey) AS mn FROM gs6 "
        "WHERE o_orderstatus = 'F'"
    ).first()
    tele = eng.last_agg_plan
    assert tele is not None and tele["files_scanned"] == 0, tele
    assert tele["files_group_stats"] >= 1
    w = full.filter(F.col("o_orderstatus") == "F").agg(
        F.count(F.lit(1)), F.min("o_orderkey")
    ).first()
    assert (r["n"], r["mn"]) == (w[0], w[1])
    # scalar COUNT(DISTINCT gcol): slices pin by construction
    r2 = eng.df(
        "SELECT COUNT(DISTINCT o_orderstatus) AS d FROM gs6"
    ).first()
    tele2 = eng.last_agg_plan
    assert tele2 is not None and tele2["files_scanned"] == 0, tele2
    assert r2["d"] == full.select("o_orderstatus").distinct().count()
    spark.catalog.dropTempView("gs6")


def test_group_stats_multikey_and_derived(spark, sf_dir, tmp_path):
    """Generalized slice pinning: a TWO-key GROUP BY where the slice
    column pins one key and the slice's own stats pin the other
    (priority-clustered files x status slices), and a DERIVED bucket
    key over the slice column."""
    src = str(tmp_path / "gs7")
    load(spark, sf_dir, "orders").repartition(4, "o_orderpriority").write.mode(
        "overwrite"
    ).parquet(src)
    Z.write_zonemap(
        spark, src, ["o_orderstatus", "o_orderpriority", "o_orderkey"],
        group_stats_cols=["o_orderpriority"],
    )
    eng = Engine(spark=spark)
    eng.register("gs7", src)
    full = spark.read.parquet(src)
    # two keys: o_orderpriority IS the slice value; o_orderstatus must
    # pin from the slice's own min/max — usually mixed, so this may
    # fall to boundary for some files, but results stay exact
    d = eng.df(
        "SELECT o_orderpriority AS pr, o_orderstatus AS st, COUNT(*) AS n "
        "FROM gs7 GROUP BY 1, 2"
    )
    got = sorted(map(tuple, d.collect()))
    want = sorted(
        map(
            tuple,
            full.groupBy(
                F.col("o_orderpriority").alias("pr"),
                F.col("o_orderstatus").alias("st"),
            ).count().collect(),
        )
    )
    assert got == want
    # single slice-keyed grouping on the hash-partitioned layout: the
    # hash partitioner puts each priority in exactly one file, but
    # FILES still mix priorities, so only slices answer at zero scan
    d2 = eng.df(
        "SELECT o_orderpriority AS pr, COUNT(*) AS n, "
        "MIN(o_orderkey) AS mn FROM gs7 GROUP BY 1"
    )
    tele = eng.last_agg_plan
    assert tele is not None and tele["files_scanned"] == 0, tele
    got2 = sorted(map(tuple, d2.collect()))
    want2 = sorted(
        map(
            tuple,
            full.groupBy(F.col("o_orderpriority").alias("pr")).agg(
                F.count(F.lit(1)).alias("n"),
                F.min("o_orderkey").alias("mn"),
            ).collect(),
        )
    )
    assert got2 == want2
    spark.catalog.dropTempView("gs7")


def test_group_stats_append_crash_rerun_idempotent(spark, sf_dir, tmp_path):
    """r15 ADVICE (medium): the gstats parquet append commits BEFORE
    the manifest-list write. Simulate a maintenance run that crashed in
    between — slice rows landed, _list.json did not — then re-run
    append_zonemap. The anti-join must keep the re-run from appending
    the same files' slice rows a second time: no duplicate
    (file, __gv) keys, entries exact, grouped answers correct at zero
    files scanned."""
    src = _unclustered(spark, sf_dir, tmp_path, "gs8", n_files=3)
    cols = ["o_orderstatus", "o_orderkey"]
    Z.write_zonemap(spark, src, cols, group_stats_cols=["o_orderstatus"])
    load(spark, sf_dir, "orders").limit(400).repartition(2).write.mode(
        "append"
    ).parquet(src)
    # the CRASHED run: stat the delta slices and append them, but die
    # before _write_list (replicated with the module's own builders)
    doc = Z._read_list(src)
    delta = [
        p for p in Z._data_files(src)
        if Z._unq(Z._bare(p)) not in {
            Z._unq(Z._bare(r["file"]))
            for r in Z.read_zonemap(spark, src).select("file").collect()
        }
    ]
    assert len(delta) == 2
    df = spark.read.option("basePath", src).parquet(*delta)
    gsf = Z._group_stats_frame(
        df, "o_orderstatus", cols, doc["types"], 64
    ).localCheckpoint()
    gsf.write.mode("append").parquet(Z._gstats_path(src, "o_orderstatus"))
    # the RE-RUN: must not double-append the same files' slices
    assert Z.append_zonemap(spark, src, cols) == 2
    rows = spark.read.parquet(Z._gstats_path(src, "o_orderstatus")).collect()
    keys = [(Z._unq(Z._bare(r["file"])), r["__gv"]) for r in rows]
    assert len(keys) == len(set(keys)), "duplicated (file, slice) rows"
    assert Z.group_stats_config(src)["o_orderstatus"]["entries"] == len(rows)
    eng = Engine(spark=spark)
    eng.register("gs8", src)
    d = eng.df(
        "SELECT o_orderstatus, COUNT(*) AS n FROM gs8 GROUP BY o_orderstatus"
    )
    tele = eng.last_agg_plan
    assert tele is not None and tele["files_scanned"] == 0, tele
    want = sorted(
        map(tuple, spark.read.parquet(src).groupBy("o_orderstatus").count().collect())
    )
    assert sorted(map(tuple, d.collect())) == want
    spark.catalog.dropTempView("gs8")


def test_group_stats_duplicate_rows_demote_to_scan(spark, sf_dir, tmp_path):
    """Defense in depth for PRE-fix tables that already hold doubled
    slice rows with a COMMITTED list: group_stats_rows drops the
    affected file (reader scans it) instead of double-counting."""
    src = _unclustered(spark, sf_dir, tmp_path, "gs9", n_files=3)
    cols = ["o_orderstatus", "o_orderkey"]
    Z.write_zonemap(spark, src, cols, group_stats_cols=["o_orderstatus"])
    gpath = Z._gstats_path(src, "o_orderstatus")
    gdf = spark.read.parquet(gpath)
    one_file = gdf.select("file").first()[0]
    # double the slice rows of ONE file (the corrupt pre-fix state)
    gdf.filter(F.col("file") == one_file).write.mode("append").parquet(gpath)
    Z._invalidate_cache(src)  # drop the parsed/slice caches
    by_file = Z.group_stats_rows(spark, src, "o_orderstatus")
    assert by_file is not None
    assert Z._unq(Z._bare(one_file)) not in by_file, "dup file must demote"
    eng = Engine(spark=spark)
    eng.register("gs9", src)
    d = eng.df(
        "SELECT o_orderstatus, COUNT(*) AS n FROM gs9 GROUP BY o_orderstatus"
    )
    tele = eng.last_agg_plan
    # the demoted file becomes a boundary scan; answers stay exact
    assert tele is None or tele["files_scanned"] >= 1
    want = sorted(
        map(tuple, spark.read.parquet(src).groupBy("o_orderstatus").count().collect())
    )
    assert sorted(map(tuple, d.collect())) == want
    spark.catalog.dropTempView("gs9")


def test_gstats_cache_row_budget_lru():
    """The driver-side slice cache evicts oldest entries past the
    global row budget and LRU-touches on hit."""
    saved = dict(Z._GSTATS_CACHE)
    Z._GSTATS_CACHE.clear()
    try:
        half = Z._GSTATS_CACHE_MAX_ROWS // 2
        rows_a = {"f": [{"__gv": i} for i in range(half)]}
        rows_b = {"f": [{"__gv": i} for i in range(half)]}
        Z._gstats_cache_put(("ta", "c"), 1, rows_a)
        Z._gstats_cache_put(("tb", "c"), 1, rows_b)
        assert set(Z._GSTATS_CACHE) == {("ta", "c"), ("tb", "c")}
        # LRU touch ta, then insert tc: tb (coldest) must evict
        hit = Z._GSTATS_CACHE[("ta", "c")]
        Z._GSTATS_CACHE.pop(("ta", "c"))
        Z._GSTATS_CACHE[("ta", "c")] = hit
        Z._gstats_cache_put(("tc", "c"), 1, {"f": [{"__gv": 0}]})
        assert ("tb", "c") not in Z._GSTATS_CACHE
        assert ("ta", "c") in Z._GSTATS_CACHE
        assert ("tc", "c") in Z._GSTATS_CACHE
    finally:
        Z._GSTATS_CACHE.clear()
        Z._GSTATS_CACHE.update(saved)


def test_group_stats_composite_pair_zero_scan(spark, sf_dir, tmp_path):
    """r15 (VERDICT r14 #3): composite slice key "a,b" — GROUP BY over
    TWO columns where NEITHER clusters answers at zero files scanned
    from per-(file, a, b) slice partials; appends maintain the
    composite slices; the per-file cap applies to the COMBINATION
    count."""
    src = _unclustered(spark, sf_dir, tmp_path, "gsc1")
    cols = ["o_orderstatus", "o_orderpriority", "o_orderkey"]
    Z.write_zonemap(
        spark, src, cols,
        group_stats_cols=["o_orderstatus,o_orderpriority"],
    )
    cfg = Z.group_stats_config(src)
    assert "o_orderstatus,o_orderpriority" in cfg
    assert cfg["o_orderstatus,o_orderpriority"]["entries"] > 0
    eng = Engine(spark=spark)
    eng.register("gsc1", src)
    full = spark.read.parquet(src)
    d = eng.df(
        "SELECT o_orderstatus AS st, o_orderpriority AS pr, COUNT(*) AS n, "
        "SUM(o_orderkey) AS s FROM gsc1 GROUP BY 1, 2"
    )
    tele = eng.last_agg_plan
    assert tele is not None and tele["files_scanned"] == 0, tele
    assert tele["group_stats_col"] == "o_orderstatus,o_orderpriority"
    got = sorted(map(tuple, d.collect()))
    want = sorted(
        map(
            tuple,
            full.groupBy(
                F.col("o_orderstatus").alias("st"),
                F.col("o_orderpriority").alias("pr"),
            ).agg(
                F.count(F.lit(1)).alias("n"), F.sum("o_orderkey").alias("s")
            ).collect(),
        )
    )
    assert got == want
    # the composite also answers the SINGLE-key rollup (subset of the
    # pinned columns) at zero scan
    d2 = eng.df(
        "SELECT o_orderpriority AS pr, COUNT(*) AS n FROM gsc1 GROUP BY 1"
    )
    tele2 = eng.last_agg_plan
    assert tele2 is not None and tele2["files_scanned"] == 0, tele2
    got2 = sorted(map(tuple, d2.collect()))
    want2 = sorted(
        map(
            tuple,
            full.groupBy(F.col("o_orderpriority").alias("pr"))
            .count().collect(),
        )
    )
    assert got2 == want2
    # append + delta maintenance keeps the composite slices current
    load(spark, sf_dir, "orders").limit(300).repartition(2).write.mode(
        "append"
    ).parquet(src)
    assert Z.append_zonemap(spark, src, cols) == 2
    eng.register("gsc1", src)
    d3 = eng.df(
        "SELECT o_orderstatus AS st, o_orderpriority AS pr, COUNT(*) AS n "
        "FROM gsc1 GROUP BY 1, 2"
    )
    tele3 = eng.last_agg_plan
    assert tele3 is not None and tele3["files_scanned"] == 0, tele3
    got3 = sorted(map(tuple, d3.collect()))
    want3 = sorted(
        map(
            tuple,
            spark.read.parquet(src).groupBy(
                F.col("o_orderstatus").alias("st"),
                F.col("o_orderpriority").alias("pr"),
            ).count().collect(),
        )
    )
    assert got3 == want3
    spark.catalog.dropTempView("gsc1")


def test_group_stats_composite_validation_and_cap(spark, sf_dir, tmp_path):
    import pytest

    src = _unclustered(spark, sf_dir, tmp_path, "gsc2", n_files=3)
    cols = ["o_orderstatus", "o_orderpriority", "o_orderkey"]
    with pytest.raises(ValueError):
        Z.write_zonemap(
            spark, src, cols, group_stats_cols=["o_orderstatus,o_orderstatus"]
        )  # repeated component
    with pytest.raises(ValueError):
        Z.write_zonemap(
            spark, src, cols, group_stats_cols=["o_orderstatus,nope"]
        )  # not a stats column
    # tuple form normalizes to the canonical "a,b" key
    Z.write_zonemap(
        spark, src, cols,
        group_stats_cols=[("o_orderstatus", "o_orderpriority")],
        group_stats_max=4,  # 3 statuses x 5 priorities = 15 combos > 4
    )
    cfg = Z.group_stats_config(src)["o_orderstatus,o_orderpriority"]
    assert cfg["entries"] == 0  # every file excluded by the combo cap
    eng = Engine(spark=spark)
    eng.register("gsc2", src)
    full = spark.read.parquet(src)
    d = eng.df(
        "SELECT o_orderstatus AS st, o_orderpriority AS pr, COUNT(*) AS n "
        "FROM gsc2 GROUP BY 1, 2"
    )
    got = sorted(map(tuple, d.collect()))
    want = sorted(
        map(
            tuple,
            full.groupBy(
                F.col("o_orderstatus").alias("st"),
                F.col("o_orderpriority").alias("pr"),
            ).count().collect(),
        )
    )
    assert got == want  # capped-out slices: boundary scan, still exact
    spark.catalog.dropTempView("gsc2")


def test_group_stats_partial_slice_set_demotes_to_scan(
    spark, sf_dir, tmp_path
):
    """r15 review: a crash during the slice APPEND's task commit can
    land a strict SUBSET of a file's slice rows — unique keys, so the
    duplicate demotion can't see it. The reader's integrity gate
    (slice n_rows must sum to the file's) demotes such files to the
    boundary scan; answers stay exact."""
    src = _unclustered(spark, sf_dir, tmp_path, "gs10", n_files=3)
    cols = ["o_orderstatus", "o_orderkey"]
    Z.write_zonemap(spark, src, cols, group_stats_cols=["o_orderstatus"])
    gpath = Z._gstats_path(src, "o_orderstatus")
    gdf = spark.read.parquet(gpath).localCheckpoint()
    victim = gdf.select("file").first()[0]
    drop_gv = (
        gdf.filter(F.col("file") == victim).select("__gv").first()[0]
    )
    # rewrite the gstats table WITHOUT one slice of the victim file
    # (the partial-commit state), list doc untouched
    pruned = gdf.filter(
        ~((F.col("file") == victim) & (F.col("__gv") == drop_gv))
    ).localCheckpoint()
    pruned.write.mode("overwrite").parquet(gpath)
    Z._invalidate_cache(src)
    eng = Engine(spark=spark)
    eng.register("gs10", src)
    d = eng.df(
        "SELECT o_orderstatus, COUNT(*) AS n FROM gs10 GROUP BY o_orderstatus"
    )
    tele = eng.last_agg_plan
    # the victim file must NOT be slice-answered (undercount otherwise)
    assert tele is None or tele["files_scanned"] >= 1, tele
    want = sorted(
        map(
            tuple,
            spark.read.parquet(src).groupBy("o_orderstatus").count().collect(),
        )
    )
    assert sorted(map(tuple, d.collect())) == want
    # the scalar widget path guards identically
    r = eng.df(
        f"SELECT COUNT(*) AS n FROM gs10 WHERE o_orderstatus = '{drop_gv}'"
    ).first()
    tele2 = eng.last_agg_plan
    assert tele2 is None or tele2["files_scanned"] >= 1, tele2
    w = (
        spark.read.parquet(src)
        .filter(F.col("o_orderstatus") == drop_gv)
        .count()
    )
    assert r["n"] == w
    spark.catalog.dropTempView("gs10")


def test_group_stats_append_clean_path_skips_repair(spark, sf_dir, tmp_path):
    """The O(history) crash repair (anti-join + exact recount) runs
    only under SUSPICION — a healthy append (gstats mtime strictly
    before the list commit's) takes the arithmetic entries path and
    still lands exact slice counts."""
    src = _unclustered(spark, sf_dir, tmp_path, "gs11", n_files=3)
    cols = ["o_orderstatus", "o_orderkey"]
    Z.write_zonemap(spark, src, cols, group_stats_cols=["o_orderstatus"])
    n0 = Z.group_stats_config(src)["o_orderstatus"]["entries"]
    load(spark, sf_dir, "orders").limit(200).repartition(1).write.mode(
        "append"
    ).parquet(src)
    assert Z.append_zonemap(spark, src, cols) == 1
    cfg = Z.group_stats_config(src)["o_orderstatus"]
    # entries tracked arithmetically AND match the table exactly
    real = spark.read.parquet(Z._gstats_path(src, "o_orderstatus")).count()
    assert cfg["entries"] == real > n0
    eng = Engine(spark=spark)
    eng.register("gs11", src)
    d = eng.df(
        "SELECT o_orderstatus, COUNT(*) AS n FROM gs11 GROUP BY o_orderstatus"
    )
    assert eng.last_agg_plan is not None
    assert eng.last_agg_plan["files_scanned"] == 0
    want = sorted(
        map(
            tuple,
            spark.read.parquet(src).groupBy("o_orderstatus").count().collect(),
        )
    )
    assert sorted(map(tuple, d.collect())) == want
    spark.catalog.dropTempView("gs11")


def test_group_stats_composite_slices_follow_group_stats_max(spark, tmp_path):
    """A composite slice column whose PER-FILE distinct-combination
    count exceeds group_stats_max is excluded wholesale: the grouped
    pushdown then scans that file (still exact), and a cap sized to the
    bounded key space restores the zero-scan answer from slices."""
    # 1 file x 600 rows covering 25x7 = 175 combos (> the 64 default;
    # coprime moduli so the two key parts are independent)
    fact = spark.range(600).select(
        F.col("id").alias("k"),
        (F.col("id") % 25).cast("int").alias("nk"),
        F.concat(F.lit("seg"), (F.col("id") % 7)).alias("seg"),
    )
    q = "SELECT seg, nk, COUNT(*) AS n, SUM(k) AS s FROM {f} GROUP BY seg, nk"

    def run(cap):
        p = str(tmp_path / f"fact_{cap}")
        fact.coalesce(1).write.parquet(p)
        Z.write_zonemap(
            spark, p, ["k", "nk", "seg"],
            group_stats_cols=["nk,seg"], group_stats_max=cap,
        )
        entries = Z.group_stats_config(p)["nk,seg"]["entries"]
        eng = Engine(spark=spark, result_cache=False)
        eng.register(f"gsm_{cap}", p)
        rows = sorted(map(tuple, eng.df(q.format(f=f"gsm_{cap}")).collect()))
        spark.catalog.dropTempView(f"gsm_{cap}")
        return rows, entries, eng.last_agg_plan

    rows_default, entries_default, tele_default = run(64)
    assert entries_default == 0  # over-cap: the file is excluded
    assert tele_default is not None and tele_default["files_scanned"] == 1
    rows_sized, entries_sized, tele_sized = run(256)
    assert entries_sized > 0
    assert tele_sized is not None and tele_sized["files_scanned"] == 0
    assert tele_sized["group_stats_col"] == "nk,seg"
    want = sorted(
        map(
            tuple,
            fact.groupBy("seg", "nk")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("k").alias("s"))
            .collect(),
        )
    )
    assert rows_default == rows_sized == want
