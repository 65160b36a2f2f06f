"""Portable mergeable sketches: estimator properties the oracle can't
express.

The DuckDB differential proves Spark and the oracle compute the SAME
estimate; these tests prove the estimate is a CORRECT sketch — error
within the published bounds, merge associativity, and count-min's
one-sided error guarantee. Sketch math sources: KMV/theta
(Bar-Yossef et al.), HLL (Flajolet et al. 2007), count-min (Cormode &
Muthukrishnan 2005).
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from quack_reduce_spark.inventory import sketches as SK
from quack_reduce_spark.operators import sketches as OP


def test_kmv_estimate_within_theoretical_error(spark, sf_dir):
    """KMV relative standard error is ~1/sqrt(k-2) (k=64 -> ~0.127);
    every per-group estimate must land within 4x that (the fixture is
    one fixed draw, not an expectation — 4 RSE is a deterministic
    pass/fail line far above any healthy draw)."""
    rows = SK.sketch_kmv_distinct(spark, sf_dir).collect()
    assert len(rows) == 5
    rse = (SK.KMV_K - 2) ** -0.5
    for r in rows:
        if r["sketch_size"] < SK.KMV_K:
            assert r["est_custs"] == r["exact_custs"]  # exact below k
        else:
            assert r["rel_err"] <= 4 * rse, (r["o_orderpriority"], r["rel_err"])


def test_kmv_union_matches_sketch_of_union(spark, sf_dir):
    """Merge correctness, the theta-sketch identity: k smallest of the
    union of per-group k-smallest == k smallest of the union's hashes
    (every global top-k hash is necessarily in its own group's top-k).
    So the merged sketch must equal the sketch built directly on the
    ungrouped data — exactly, not approximately."""
    from quack_reduce_spark.inventory._util import load

    orders = load(spark, sf_dir, "orders")
    hashed = orders.select(
        OP.md5_h32(F.col("o_custkey").cast("string")).alias("h")
    ).distinct()
    direct = (
        hashed.orderBy("h").limit(SK.KMV_K).agg(F.max("h").alias("kth")).first()["kth"]
    )
    merged = SK.sketch_kmv_union(spark, sf_dir).first()
    est_direct = (SK.KMV_K - 1) * OP.H32_SPAN / float(direct)
    # same kth -> same estimate (to the query's 1e-4 rounding)
    assert abs(merged["est_custs"] - round(est_direct, 4)) < 1e-3


def test_hll_estimate_within_error(spark, sf_dir):
    """HLL relative standard error is 1.04/sqrt(m) (m=256 -> ~0.065);
    one fixed draw must land within 4x that."""
    r = SK.sketch_hll_estimate(spark, sf_dir).first()
    assert r["m"] == 256
    assert 0 < r["regs_nonzero"] <= 256
    assert r["rel_err"] <= 4 * (1.04 / 16.0), r["rel_err"]


def test_cms_overestimates_only_and_finds_true_heavies(spark, sf_dir):
    """Count-min's defining guarantee: est >= exact ALWAYS (counters
    only ever add other keys' rows). And with 4x256 cells over this
    key space, the top-10 by estimate must contain the true top-3
    suppliers by row count."""
    from quack_reduce_spark.inventory._util import load

    rows = SK.sketch_cms_heavy_hitters(spark, sf_dir).collect()
    assert len(rows) == SK.CMS_TOP
    for r in rows:
        assert r["overcount"] >= 0, r
        assert r["est_rows"] == r["exact_rows"] + r["overcount"]

    li = load(spark, sf_dir, "lineitem")
    true_top3 = {
        r["l_suppkey"]
        for r in li.groupBy("l_suppkey")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("l_suppkey"))
        .limit(3)
        .collect()
    }
    reported = {r["l_suppkey"] for r in rows}
    assert true_top3 <= reported


def test_hll_rho_ladder_matches_python_bit_length(spark):
    """The comparison-ladder rho against Python's int.bit_length on
    the full edge set: 0, 1, powers of two, 2^k-1, and the 24-bit max
    — exactly the values where a float log2 implementation can differ
    by an ulp and silently shift a register."""
    ws = sorted(
        {0, 1, 2, 3}
        | {1 << k for k in range(24)}
        | {(1 << k) - 1 for k in range(1, 25)}
        | {(1 << 24) - 1}
    )
    df = spark.createDataFrame([(w,) for w in ws], "w long")
    got = {
        r["w"]: r["rho"]
        for r in df.select("w", OP.hll_rho(F.col("w")).alias("rho")).collect()
    }
    for w in ws:
        expected = OP.HLL_W_BITS + 1 if w == 0 else OP.HLL_W_BITS - w.bit_length() + 1
        assert got[w] == expected, (w, got[w], expected)


def test_sketches_shrink_shuffle_not_answers(spark, sf_dir):
    """The scale claim in one assertion: the HLL register frame is
    fixed-width (<= 256 rows) no matter the input, and the CMS counter
    frame is <= 4*256 cells."""
    from quack_reduce_spark.inventory._util import load

    li = load(spark, sf_dir, "lineitem")
    regs = OP.hll_registers(
        li.select(OP.md5_h32(F.col("l_partkey").cast("string")).alias("h"))
    )
    assert regs.count() <= 256
    keyed = li.select(
        "l_suppkey",
        F.posexplode(
            OP.cms_buckets(F.col("l_suppkey").cast("string"), SK.CMS_ROWS, SK.CMS_WIDTH)
        ).alias("r", "bucket"),
    )
    counters = keyed.groupBy("r", "bucket").agg(F.count(F.lit(1)).alias("cnt"))
    assert counters.count() <= SK.CMS_ROWS * SK.CMS_WIDTH


def test_hll_windowed_covers_every_day_within_error(spark, sf_dir):
    """Per-window sketches: one row per distinct event day, each
    day's estimate within 4x the HLL RSE of its exact DAU (the small
    per-day cardinalities route through the linear-counting branch,
    which is tighter, so the bound is generous)."""
    from quack_reduce_spark.inventory._util import load

    rows = SK.sketch_hll_windowed(spark, sf_dir).collect()
    ev = load(spark, sf_dir, "events")
    n_days = ev.select(F.date_trunc("day", F.col("ts"))).distinct().count()
    assert len(rows) == n_days
    for r in rows:
        assert r["rel_err"] <= 4 * (1.04 / 16.0), (r["day"], r["rel_err"])
        assert 0 < r["regs_nonzero"] <= 256


def test_stream_hll_dau_equals_batch_twin(spark, sf_dir):
    """Bounded-input stream == batch, sketch edition: the streaming
    register aggregation must produce exactly the batch twin's
    estimates — same days, same register census, same est/err after
    rounding."""
    from quack_reduce_spark.inventory.streaming_live import stream_hll_dau

    batch = {tuple(r) for r in SK.sketch_hll_windowed(spark, sf_dir).collect()}
    stream = {tuple(r) for r in stream_hll_dau(spark, sf_dir).collect()}
    assert stream == batch


@pytest.mark.parametrize("fanout", [1, 7, 64, "auto"])
def test_kmv_tree_equals_windowed_sort(spark, sf_dir, fanout):
    """The salt-tree kmv_per_group must equal the naive per-group
    row_number sort exactly — the prefix-of-a-sorted-union theorem in
    executable form, at any fixed fanout AND the r9 adaptive default
    (fanout shapes the plan, never the output)."""
    from pyspark.sql import Window
    from quack_reduce_spark.inventory._util import load

    orders = load(spark, sf_dir, "orders")
    hashed = orders.select(
        "o_orderpriority", OP.md5_h32(F.col("o_custkey").cast("string")).alias("h")
    ).distinct()
    tree = {
        (r["o_orderpriority"], r["kth"], r["got"])
        for r in OP.kmv_per_group(
            hashed, "o_orderpriority", SK.KMV_K, fanout=fanout
        ).collect()
    }
    w = Window.partitionBy("o_orderpriority").orderBy("h")
    naive = {
        (r["o_orderpriority"], r["kth"], r["got"])
        for r in hashed.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= SK.KMV_K)
        .groupBy("o_orderpriority")
        .agg(F.max("h").alias("kth"), F.count(F.lit(1)).alias("got"))
        .collect()
    }
    assert tree == naive


def test_kmv_adaptive_fanout_bounds_bucket_size(spark):
    """The r9 cardinality-adaptive fanout must keep BOTH tree levels'
    aggregation buffers near sqrt(n*k) under a skewed fixture (one
    group with 20000 distinct keys next to a 10-key group) — the
    bound a fixed fanout cannot give: fanout=64 would leave a
    20000/64=312-value bucket growing linearly with n, and a
    billion-key group at 16M values per bucket. Balanced fanout
    ceil(sqrt(n/k)) pins level 1 at ~n/fanout and level 2 at fanout*k,
    both ~sqrt(n*k)."""
    k = SK.KMV_K
    n_big, n_small = 20000, 10
    rows = [("big", i) for i in range(n_big)] + [("small", i) for i in range(n_small)]
    df = spark.createDataFrame(rows, "g string, v int")
    hashed = df.select("g", OP.md5_h32(F.col("v").cast("string")).alias("h")).distinct()

    fans = {
        r["g"]: r["fan"]
        for r in hashed.groupBy("g")
        .agg(OP.adaptive_fanout(F.count(F.lit(1)), k).alias("fan"))
        .collect()
    }
    import math

    assert fans["big"] == math.ceil(math.sqrt(n_big / k))
    assert fans["small"] == 1

    bound = 2.0 * math.sqrt(n_big * k)
    # level 1: largest (group, h % fan_g) bucket
    lvl1_max = (
        hashed.withColumn(
            "fan", F.when(F.col("g") == "big", fans["big"]).otherwise(fans["small"])
        )
        .groupBy("g", F.pmod(F.col("h"), F.col("fan")).alias("s"))
        .agg(F.count(F.lit(1)).alias("n"))
        .agg(F.max("n"))
        .first()[0]
    )
    assert lvl1_max <= bound, (lvl1_max, bound)
    # level 2: survivors per group = fan_g * k at most
    assert max(f * k for f in fans.values()) <= bound

    # and the adaptive tree's output still equals a fixed-fanout tree's
    a = {tuple(r) for r in OP.kmv_per_group(hashed, "g", k, fanout="auto").collect()}
    b = {tuple(r) for r in OP.kmv_per_group(hashed, "g", k, fanout=64).collect()}
    assert a == b


def test_hll_union_merge_is_lossless_and_bounded(spark, sf_dir):
    """The HLL merge identity (max is associative/commutative/
    idempotent): merging the per-day register tables must reproduce
    the direct one-pass global sketch register for register
    (regs_mismatch == 0), and the merged estimate stays within 4x the
    HLL RSE of the exact global distinct count."""
    r = SK.sketch_hll_union(spark, sf_dir).first()
    assert r["m"] == 256
    assert r["regs_mismatch"] == 0
    assert 0 < r["regs_nonzero"] <= 256
    assert r["rel_err"] <= 4 * (1.04 / 16.0), r["rel_err"]


def test_theta_intersect_exact_below_k(spark, tmp_path):
    """The theta set-expression guarantee in its sharpest form: when
    neither sketch fills (|A|, |B| < k), theta = 2^32, the retained
    region is EVERYTHING, and both the intersection and difference
    estimates are exact — zero error by construction, not luck."""
    rows = [("1-URGENT", c) for c in range(1, 41)] + [
        ("2-HIGH", c) for c in range(21, 61)
    ]
    spark.createDataFrame(rows, "o_orderpriority string, o_custkey long").write.parquet(
        str(tmp_path / "orders.parquet")
    )
    r = SK.sketch_theta_intersect(spark, str(tmp_path)).first()
    assert r["got_a"] == 40 and r["got_b"] == 40
    assert r["n_inter"] == 20 and r["exact_inter"] == 20
    assert r["est_inter"] == 20.0 and r["rel_err_inter"] == 0.0
    assert r["n_diff_ab"] == 20 and r["exact_diff_ab"] == 20
    assert r["est_diff_ab"] == 20.0 and r["rel_err_diff"] == 0.0


def test_theta_intersect_error_within_bounds(spark, sf_dir):
    """On the real fixture (sketches full), the theta intersection /
    difference estimates must land within 4x the retained-count RSE
    (1/sqrt(n_retained)) of the exact overlap — the standard theta-
    sketch error scale, evaluated on one fixed draw with a generous
    deterministic multiplier."""
    r = SK.sketch_theta_intersect(spark, sf_dir).first()
    assert r["got_a"] == SK.KMV_K and r["got_b"] == SK.KMV_K
    assert r["n_inter"] > 0 and r["exact_inter"] > 0
    assert r["rel_err_inter"] <= 4.0 / (r["n_inter"] ** 0.5), dict(r.asDict())
    if r["n_diff_ab"] > 0 and r["exact_diff_ab"] > 0:
        assert r["rel_err_diff"] <= 4.0 / (r["n_diff_ab"] ** 0.5), dict(r.asDict())


def test_topn_sample_tree_equals_windowed_sort_and_merges(spark, sf_dir):
    """The fixed-size bottom-n hash sample: (a) the salt tree equals a
    per-group ROW_NUMBER sort over (h, v); (b) splitting the data in
    two, sampling each half, and merging (union + re-sort + re-slice)
    equals sampling the whole — the mergeability that makes the
    fixed-SIZE form the bounded-memory scale path."""
    from pyspark.sql import Window
    from quack_reduce_spark.inventory._util import load

    n = 50
    ev = load(spark, sf_dir, "events")
    keyed = ev.select(
        "event_type",
        OP.md5_h32(F.col("event_id").cast("string")).alias("h"),
        F.col("value").alias("v"),
    )
    tree = {
        (r["event_type"], tuple((s["h"], s["v"]) for s in r["__smp"]))
        for r in OP.topn_sample_lists(keyed, "event_type", n).collect()
    }
    w = Window.partitionBy("event_type").orderBy("h", "v")
    naive = {
        (r["event_type"], tuple((s["h"], s["v"]) for s in r["__smp"]))
        for r in keyed.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= n)
        .groupBy("event_type")
        .agg(F.array_sort(F.collect_list(F.struct("h", "v"))).alias("__smp"))
        .collect()
    }
    assert tree == naive

    halves = [keyed.filter(F.pmod(F.col("h"), F.lit(2)) == i) for i in (0, 1)]
    partials = OP.topn_sample_lists(halves[0], "event_type", n).unionByName(
        OP.topn_sample_lists(halves[1], "event_type", n)
    )
    merged = {
        (r["event_type"], tuple((s["h"], s["v"]) for s in r["__smp"]))
        for r in partials.select(
            "event_type", F.explode("__smp").alias("s")
        )
        .select("event_type", F.col("s.h").alias("h"), F.col("s.v").alias("v"))
        .groupBy("event_type")
        .agg(
            F.slice(F.array_sort(F.collect_list(F.struct("h", "v"))), 1, n).alias(
                "__smp"
            )
        )
        .collect()
    }
    assert merged == tree


def test_bloom_no_false_negatives_and_fp_bound(spark, sf_dir):
    """The Bloom contract on the real fixture: every true member
    passes (n_missed == 0 — by construction, here re-asserted on
    data), and the false-positive rate stays within 4x the published
    bound (1 - e^(-kn/m))^k for the measured key count."""
    import math

    r = SK.sketch_bloom_semijoin(spark, sf_dir).first()
    assert r["n_missed"] == 0
    assert r["n_bloom_pass"] >= r["n_exact"]
    bound = (1.0 - math.exp(-r["k"] * r["n_keys"] / r["m_bits"])) ** r["k"]
    # floor absorbs small-fixture variance (sf0.001 has ~14 keys -> a
    # 186-bit filter, where a handful of collisions moves the rate);
    # the tight at-scale claim lives in test_bloom_sized_beats_...
    assert r["fp_rate"] <= max(4.0 * bound, 0.015), (r["fp_rate"], bound)


def test_bloom_words_fixed_width_and_or_mergeable(spark):
    """The bitset is a mergeable fixed-width sketch like the HLL
    registers: <= 132 words no matter the key count, and
    bloom(A ∪ B) == bitwise-OR of bloom(A) and bloom(B) word for word
    (bit_or is associative/commutative/idempotent)."""
    a = spark.range(0, 400).select(F.col("id").alias("k"))
    b = spark.range(300, 900).select(F.col("id").alias("k"))
    wa = {r["word_idx"]: r["word"] for r in OP.bloom_words(a, "k").collect()}
    wb = {r["word_idx"]: r["word"] for r in OP.bloom_words(b, "k").collect()}
    wu = {
        r["word_idx"]: r["word"]
        for r in OP.bloom_words(a.unionByName(b).distinct(), "k").collect()
    }
    assert len(wu) <= OP.BLOOM_WORDS
    merged = {i: wa.get(i, 0) | wb.get(i, 0) for i in set(wa) | set(wb)}
    assert merged == wu

    # and the literal-array membership expression agrees with the set
    dense = [0] * OP.BLOOM_WORDS
    for i, w in wu.items():
        dense[int(i)] = int(w)
    probe = spark.range(0, 900).select(F.col("id").alias("k"))
    passed = probe.filter(
        OP.bloom_pass_expr(dense, F.col("k").cast("string"))
    ).count()
    assert passed == 900  # every inserted key passes: no false negatives


def test_bloom_sized_beats_saturated_fixed_m(spark):
    """The round-9 design nit, demonstrated then fixed: a FIXED
    8184-bit filter saturates once the key count grows past ~m/10
    (fp -> 1, the pre-filter becomes dead weight), while bloom_size's
    m = 10 bits/key, k = 7 keeps fp near the ~1% design point at ANY
    scale. 10x the keys the fixed width was comfortable at: sized
    still ~1%, fixed demonstrably saturated. Both stay
    no-false-negative (that contract never depends on sizing)."""
    n_keys = 8000  # ~10x the fixed filter's ~800-key comfort zone
    keys = spark.range(0, n_keys).select(F.col("id").alias("k"))
    probe = spark.range(n_keys, n_keys + 20000).select(F.col("id").alias("k"))

    def fp_rate(dense, k):
        # probe keys are all non-members: every pass is a false positive
        return probe.filter(
            OP.bloom_pass_expr(dense, F.col("k").cast("string"), k=k)
        ).count() / 20000.0

    def dense_words(m, k, n_words):
        d = [0] * n_words
        for r in OP.bloom_words(keys, "k", m=m, k=k).collect():
            d[int(r["word_idx"])] = int(r["word"])
        return d

    fixed = dense_words(OP.BLOOM_M, OP.BLOOM_K, OP.BLOOM_WORDS)
    n_words, m = OP.bloom_size(n_keys)
    assert m >= n_keys * OP.BLOOM_BITS_PER_KEY  # integer-rounded UP
    sized = dense_words(m, OP.BLOOM_SIZED_K, n_words)

    fp_fixed = fp_rate(fixed, OP.BLOOM_K)
    fp_sized = fp_rate(sized, OP.BLOOM_SIZED_K)
    assert fp_fixed > 0.5, fp_fixed  # saturated: filter is dead weight
    assert fp_sized <= 0.02, fp_sized  # ~1% design point, 2x slack

    # no false negatives either way: every inserted key still passes
    assert keys.filter(
        OP.bloom_pass_expr(sized, F.col("k").cast("string"), k=OP.BLOOM_SIZED_K)
    ).count() == n_keys


def test_join_cardinality_exact_below_n(spark, tmp_path):
    """When neither key sample fills (keys < n), theta = 2^32, the
    samples are exact (key→count) records, and the join-size estimate
    equals sum(cntA*cntB) over the true common keys — zero error by
    construction."""
    import datetime as dt

    rows = []
    for k in range(1, 51):  # 1996: keys 1-50, two rows each
        rows += [(k, dt.date(1996, 6, 1))] * 2
    for k in range(26, 76):  # 1997: keys 26-75, three rows each
        rows += [(k, dt.date(1997, 6, 1))] * 3
    spark.createDataFrame(
        rows, "l_partkey long, l_shipdate date"
    ).write.parquet(str(tmp_path / "lineitem.parquet"))
    r = SK.sketch_join_cardinality(spark, str(tmp_path)).first()
    assert r["got_a"] == 50 and r["got_b"] == 50
    assert r["n_common_sampled"] == 25
    assert r["exact_join_rows"] == 25 * 2 * 3
    assert r["est_join_rows"] == float(25 * 2 * 3)
    assert r["rel_err"] == 0.0


def test_join_cardinality_error_within_bounds(spark, sf_dir):
    """On the real fixture (samples full) the theta ratio estimator
    must land within 4x the retained-count RSE of the exact join
    size."""
    r = SK.sketch_join_cardinality(spark, sf_dir).first()
    assert r["got_a"] == SK.JOINCARD_N and r["got_b"] == SK.JOINCARD_N
    assert r["n_common_sampled"] > 0 and r["exact_join_rows"] > 0
    assert r["rel_err"] <= 4.0 / (r["n_common_sampled"] ** 0.5), dict(r.asDict())


def test_sampled_quantiles_deterministic_and_bounded(spark, sf_dir):
    """The hash sample is a pure function of keys (two runs identical),
    samples ~1/8 of rows per group, and the sampled p50 lands within
    the exact group's interquartile spread — a loose but
    draw-independent sanity bound."""
    from quack_reduce_spark.inventory._util import load

    a = {tuple(r) for r in SK.sketch_sampled_quantiles(spark, sf_dir).collect()}
    b = {tuple(r) for r in SK.sketch_sampled_quantiles(spark, sf_dir).collect()}
    assert a == b  # determinism: no RNG anywhere

    ev = load(spark, sf_dir, "events")
    totals = {
        r["event_type"]: r["n"]
        for r in ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    spread = {
        r["event_type"]: (r["q1"], r["q3"])
        for r in ev.groupBy("event_type")
        .agg(
            F.percentile(F.col("value"), F.lit(0.25)).alias("q1"),
            F.percentile(F.col("value"), F.lit(0.75)).alias("q3"),
        )
        .collect()
    }
    for row in a:
        et, n_sampled, p50_s = row[0], row[1], row[2]
        frac = n_sampled / totals[et]
        assert 0.04 <= frac <= 0.25, (et, frac)  # ~1/8 with slack
        q1, q3 = spread[et]
        assert q1 <= p50_s <= q3, (et, p50_s, q1, q3)


def test_bloom_broadcast_transport_equals_literal_and_plan_stays_flat(spark):
    """The bounded-transport contract: above the literal-word
    threshold the bitset moves as broadcast DATA, the probe results
    are bit-for-bit the literal path's, and the PLAN STRING does not
    grow with the key count — the r10 nit where a sized filter's
    literal array grew O(n_keys) inside the plan (codegen/constant-
    pool blowup at 10^8 build keys) is structurally gone."""
    from quack_reduce_spark.plans import formatted_plan

    def dense_for(n_keys):
        keys = spark.range(0, n_keys).select(F.col("id").alias("k"))
        n_words, m = OP.bloom_size(n_keys)
        d = [0] * n_words
        for r in OP.bloom_words(keys, "k", m=m, k=OP.BLOOM_SIZED_K).collect():
            d[int(r["word_idx"])] = int(r["word"])
        return d

    probe = spark.range(0, 3000).select(F.col("id").alias("k"))
    dense = dense_for(2000)

    lit = OP.bloom_filter_frame(
        probe, dense, F.col("k").cast("string"), k=OP.BLOOM_SIZED_K,
        literal_max_words=len(dense),
    )
    bc = OP.bloom_filter_frame(
        probe, dense, F.col("k").cast("string"), k=OP.BLOOM_SIZED_K,
        literal_max_words=0,  # force the broadcast transport
    )
    got_lit = {(r["k"], r["bp"]) for r in lit.collect()}
    got_bc = {(r["k"], r["bp"]) for r in bc.collect()}
    assert got_lit == got_bc
    # members all pass on the broadcast path too (no false negatives)
    assert all(bp for k, bp in got_bc if k < 2000)

    # plan flatness: 50x the keys, broadcast-path plan length ~constant
    big = dense_for(100_000)
    bc_big = OP.bloom_filter_frame(
        probe, big, F.col("k").cast("string"), k=OP.BLOOM_SIZED_K,
        literal_max_words=0,
    )
    small_len = len(formatted_plan(bc))
    big_len = len(formatted_plan(bc_big))
    assert big_len < small_len + 2000, (small_len, big_len)
    # while the literal path's plan would grow with the bitset
    lit_big = probe.withColumn(
        "bp", OP.bloom_pass_expr(big, F.col("k").cast("string"), k=OP.BLOOM_SIZED_K)
    )
    assert len(formatted_plan(lit_big)) > len(formatted_plan(lit)) + len(big)


def test_key_count_sample_from_counts_matches_raw(spark, sf_dir):
    """``key_count_sample_from_counts`` over a pre-aggregated (k, cnt)
    frame equals ``key_count_sample`` over the raw rows."""
    from quack_reduce_spark.inventory._util import load

    li = load(spark, sf_dir, "lineitem").select(F.col("l_partkey").alias("k"))
    counts = li.groupBy("k").agg(F.count(F.lit(1)).alias("cnt"))
    a = OP.key_count_sample(li, "k", 64).collect()[0]["__smp"]
    b = OP.key_count_sample_from_counts(counts, 64).collect()[0]["__smp"]
    assert [tuple(s) for s in a] == [tuple(s) for s in b]
