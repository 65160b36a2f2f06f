"""Dump formatted physical plans.

Two modes:

- ``python tools/dump_plans.py [sf_dir]`` regenerates docs/PLANS.md,
  the annotated plans of the headline queries (SURVEY §4 plan-quality
  evidence; sf_dir defaults to the sf0.1 fixture).
- ``python tools/dump_plans.py --set <name> <tag> [query ...]`` writes
  ``plans/<name>/<query>_<tag>.txt`` for each query of the named set
  in ``QUERY_SETS`` (or the listed queries), at bench.py's sf dir
  ($SPARK_GRAFT_SF_DIR). ``tag`` is the file suffix, e.g. "before" /
  "after" for an optimization round's plan evidence.
"""

from __future__ import annotations

import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from quack_reduce_spark import plans  # noqa: E402
from quack_reduce_spark.inventory import all_queries  # noqa: E402
from quack_reduce_spark.session import get_spark  # noqa: E402

HEADER = """# Plan audit — headline query physical plans (sf0.1, local[32])

Generated by `python tools/dump_plans.py`. What to look for (SURVEY §4):
pushed filters reaching the parquet scan, ReadSchema pruned to referenced
columns, partial/final HashAggregate pairs around a single Exchange,
BroadcastHashJoin for dimension lookups (fact side never shuffles),
TakeOrderedAndProject for sort+limit. AQE is enabled (plans show
AdaptiveSparkPlan; isFinalPlan=false until execution).
"""

NOTES = {
    "a09_topk": "Flagship reference query: filter pushed to scan; 2-column ReadSchema; partial/final agg around one exchange; top-k via TakeOrderedAndProject (no full sort).",
    "b_join_star_broadcast": "Star schema: three BroadcastHashJoins; the lineitem fact is scanned once, never shuffled until the final 1-exchange aggregate.",
    "b_agg_pricing_summary": "TPC-H Q1 shape: wide aggregate battery, all in a single partial/final pair; scan prunes to the 7 referenced columns.",
    "ts_session_window": "Session windows plan as a single shuffle on user_id + sort-based session merge, then aggregate.",
    "tpch_q5_local_supplier_volume": "Multi-join analytic: dims broadcast; customer-orders-lineitem chain shuffles only on join keys; AQE free to re-plan at runtime.",
    "dedup_ngram_jaccard": "Inverted-index self-join: shuffle-free array shingle assembly (split once, explode — no window), ONE shingle-set aggregation materialized once (r16: lazy localCheckpoint — both self-join sides re-explode it from the persisted frame instead of re-running the explode+collect_set per branch). Candidate generation is bucket-quadratic, never all-pairs.",
    "sim_cosine_topk": "Brute-force ANN baseline: queries broadcast (BroadcastNestedLoopJoin over 5 rows), corpus stays partitioned; each side's L2 norm is staged once per row below the join (r16 — the inline form re-evaluated both norms per pair); per-query top-k window after.",
    "dedup_minhash_lsh": "MinHash-LSH scale path: shuffle-free shingle assembly into ONE fused per-doc aggregation (r16: the 32 permutation mins AND the collect_set verify set in a single groupBy, materialized once for all four downstream branches — the final plan reads zero parquet); band-key equi-join generates candidates linearly; no all-pairs product anywhere.",
    "tpch_q14_promo_revenue": "Broadcast dim join: part broadcasts, the filtered lineitem scan stays in place; conditional agg collapses to one partial/final pair.",
    "tpch_q18_large_volume_customers": "HAVING-over-agg joined back: the small qualifying-order set broadcasts back against orders; top-20 via TakeOrderedAndProject.",
    "b_join_interval_band": "Banded range join: interval side explodes to covering bands (Generate), then an ordinary shuffle join on the band key — where a naive inequality join would be BroadcastNestedLoopJoin.",
    "tpch_q2_min_cost_supplier": "Correlated-MIN as a min-over-partition window AFTER the broadcast part-bracket filter: ONE derived part-supplier scan (the aggregate-join-back shape needed two), dims broadcast, window keyed on the same partkey the aggregate already shuffled on.",
    "tpch_q8_market_share": "Seven-table join: every dimension (part, both nation roles, region) broadcasts, so the lineitem fact flows through a chain of BroadcastHashJoins and shuffles only for orders/customer key joins; conditional-sum ratio folds into one partial/final agg pair.",
    "tpch_q21_suppliers_who_kept_waiting": "EXISTS + NOT EXISTS decorrelated into order-level distinct-supplier counts via two collect_set windows over ONE l_orderkey partition (r16): a single fact pass and a single order-key exchange where the former aggregate+join-back shape paid two of each; no correlated per-row subquery execution anywhere.",
    "b3_window_qualify": "QUALIFY pattern: rank filter plans as WindowGroupLimit — each partition keeps only its top-3 before the window materializes the rank, so the exchange carries a bounded per-key row count.",
    "text_gopher_quality": "Quality gates: one posexplode feeds token aggregates and the bigram lead()-window (widest window = one document); everything else is partial/final hash aggregation keyed on doc_id.",
    "text_chunk_windows": "Chunking is scan-shaped: split once, explode the window starts (Generate), slice per start — ZERO exchanges in the whole plan; chunk throughput = scan throughput at any corpus size.",
    "dedup_substring": "Substring dedup: hashed char-32-gram inverted index — the self-join shuffles (doc, int64) pairs only; gram hashing happens scan-side inside the projection, and the pair aggregate is partial/final on (doc1, doc2).",
    "sim_quantized_topk": "Quantized ANN: corpus quantization (scale + int8 array) is computed in the scan projection; 5 queries broadcast; integer dot in the join projection; per-query top-k window at the end — corpus never shuffles before scoring.",
    "ts_asof_join_broadcast": "Broadcast as-of: right side collapses to one ts-sorted array per key and broadcasts; the click fact is Scan -> BroadcastHashJoin -> Project — no Exchange, no Sort, no Window on the fact anywhere in the plan.",
    "text_decontaminate": "Decontamination: benchmark 8-grams distinct-aggregate then broadcast into a LeftSemi BroadcastHashJoin against the training-gram scan; gram assembly is the shuffle-free split-once/transform/explode shape, so the 100 TB side never exchanges until the final per-source count.",
    "text_bm25_topk": "BM25: ONE pivoted aggregation over the token stream (dl + fixed-width count_if term frequencies), checkpointed |docs|-row stats table feeds both the model-constant aggregate and the scoring scan; top-10 via TakeOrderedAndProject.",
    "text_lm_score": "Unigram-LM scoring: vocab aggregate broadcasts back onto the token stream (BroadcastHashJoin — the token side never re-shuffles on word), then per-doc and per-source partial/final aggregate pairs.",
    "text_pack_windows": "Sequence packing: one window cumsum per source partition (single Exchange on source), then a partial/final aggregate; all integer expressions inside whole-stage codegen.",
    "dedup_incremental": "Incremental ingest: corpus side reduces to distinct fingerprints; batch joins against it and its own first-arrival aggregate — two broadcast-sized joins keyed on fingerprint, no self-join of the batch.",
    "sim_pq_topk": "Product quantization: codebooks and per-query ADC tables broadcast; corpus encodes via broadcast join + min_by, ADC scores via broadcast join on (subspace, code) + one sum aggregate; exact rerank touches only the broadcast-sized candidate set. The corpus never shuffles on anything but its own id.",
    "graph_pagerank": "PageRank round: contributions aggregate partial/final on dst; rank state joins edges on src; dangling mass is a 1-row aggregate broadcast back — per round: two key-shuffles, zero driver data reads (shown: the final-round plan; earlier rounds are the identical shape).",
    "graph_bfs_layers": "BFS final layer: frontier joins edges on the node key then anti-joins visited on the same key — the partitioning is reused across the pair; localCheckpoint truncates lineage so round k's plan does not re-embed rounds 1..k-1.",
    "sim_pca_topk": "PCA scoring pass: the centered matrix is persisted once (r16: lazy localCheckpoint — each power round is its own driver action and re-ran the centering before); the v-projection is a zip_with/aggregate expression over the persisted rows (no Python, no shuffle); the only exchange is the final TakeOrderedAndProject — per-round w-aggregates (not shown) are map-side-combined posexplode sums onto 64 keys.",
    "ml_feature_hashing": "Hashing trick: md5-bucket computed in the explode projection; one partial/final aggregate on the 256-bucket key; top-20 via TakeOrderedAndProject. No vocabulary join exists anywhere.",
    "ml_weighted_sample": "A-ES weighted sample: the md5-dyadic u and the rounded pow key are scan-side expressions (WholeStageCodegen); WindowGroupLimit runs BOTH map-side (each input partition pre-prunes to its per-stratum top-5 before the exchange — the shuffle carries at most 5 rows per (partition, stratum)) and reduce-side, so the rank window never materializes more than the winners; the only other exchange is the presentation sort. No RNG, no global sort, no driver state.",
    "ml_target_encode": "Out-of-fold target encoding: ONE fact scan into a partial/final (cat, fold) aggregate; category totals and the OOF encodings are window/projection expressions over the resulting 25-row frame — no join back, no second scan; the trailing exchange is the presentation sort.",
    "ml_train_split": "Deterministic split: the md5 bucket and split label are scan-side expressions (WholeStageCodegen); one partial/final aggregate on (split, source). Stable under any repartitioning because no RNG appears in the plan.",
    "dq_expectations": "Expectation suite: each table contributes ONE scan with a count_if battery in a single partial/final aggregate; the per-check rows are unions of 1-row projections of those two aggregates — 2 scans for 6 checks.",
    "dq_referential_integrity": "FK audit: each relation is a LeftAnti join (broadcast for dimension parents) feeding a count; the child scan prunes to the key column only.",
    "ts_ewma_smooth": "Truncated EWMA: daily aggregate (partial/final), then ONE bounded ROWS window partitioned by event_type — 7 rows of frame state per key; no unpartitioned sort anywhere.",
    "sketch_hll_estimate": "Portable HLL: register index + rho ladder are scan-side expressions; the whole sketch is ONE partial/final aggregate onto <=256 keys (max is idempotent — no distinct pass), then a 1x1 crossJoin with the exact count. Shuffle payload is the 256-row register frame regardless of input size.",
    "sketch_cms_heavy_hitters": "Count-min: the 4 salted buckets are computed in the explode projection; counters aggregate partial/final onto <=1024 cells; the per-key probe joins that broadcast-sized frame back. The only data-sized shuffles are keyed aggregates — the sketch itself is fixed-width.",
    "dedup_prefix_filter": "Prefix-filtered exact join: ONE per-doc ObjectHashAggregate builds the rare-first-sorted shingle list (df via a count window on sh — one exchange); the prefix slice posexplodes from it, candidates come from the prefix-only equality self-join + two-way length filter + PPJoin positional filter (match-rank overlap bound, r9 — ~2.5x further pruning), and verify joins the SAME localCheckpointed per-doc frame — candidate/verify share one aggregation, no all-pairs product anywhere (rehearsed sub-linear; candidates flat per doc).",
    "sketch_kmv_distinct": "KMV salt tree: the distinct-hash frame aggregates per (group, h%fanout) bucket into a sorted k-slice (ObjectHashAggregate, partial-merged map-side), survivors re-aggregate per group — no row_number window over raw hashes; r9 fanout adapts per group to ceil(sqrt(n/k)) via a count aggregate broadcast back, bounding BOTH tree levels at ~sqrt(n*k).",
    "sketch_theta_intersect": "Theta set algebra: two sketch builds (the KMV salt tree) and one flag aggregate touch the fact; everything after is a 1x1 crossJoin over two k-element arrays — array_intersect/array_except/filter under theta are row-local expressions on sketch-sized data.",
    "sketch_topn_sample_quantiles": "Fixed-size sample: the same salt tree carrying (h, value) structs — per-group state is exactly n structs at every level; explode + percentile over 5*n sampled rows, exact side one partial/final percentile aggregate.",
    "sketch_join_cardinality": "Join-size estimation: each side is one partial/final (key,count) aggregate feeding the payload-carrying salt tree; everything past the two <=128-struct samples is a 1x1 crossJoin + tiny explode-join — the exact answer is a count aggregate join, never the materialized pair blowup.",
    "sketch_bloom_semijoin": "Bloom pre-filter: the bitset builds in one bit_or aggregate onto <=132 words; membership is a LITERAL-ARRAY expression in the fact projection (the driver ships 132 longs, like engine-native bloom-join pushdown) — the probe side has zero joins beyond the one broadcast membership check the exactness report itself needs; one fact pass produces all five counters.",
}


# Named query sets: the queries each optimization round examined or
# touched; their before/after plans are committed under plans/<name>/.
QUERY_SETS = {
    "r16": [
        "graph_pagerank",
        "graph_triangles",
        "sim_pca_topk",
        "sim_cosine_topk",
        "dedup_minhash_lsh",
        "dedup_ngram_jaccard",
        "dedup_prefix_filter",
        "dedup_lsh_index_probe",
        "tpch_q9_product_type_profit",
        "tpch_q21_suppliers_who_kept_waiting",
        "sketch_join_cardinality",
        "sketch_cms_heavy_hitters",
        "sketch_bloom_semijoin",
        "sketch_theta_intersect",
        "sketch_topn_sample_quantiles",
        "dedup_ngram_capped",
        "ml_weighted_sample",
        "text_bm25_topk",
        "graph_pagerank_top",
        "sim_pca_variance",
        "sim_filtered_topk",
    ],
    "r17": [
        "dedup_minhash_lsh",
        "dedup_ngram_jaccard",
        "dedup_prefix_filter",
        "dedup_lsh_index_probe",
        "sim_pca_topk",
        "dq_expectations",
        "sketch_bloom_semijoin",
        "graph_triangles",
        "dedup_substring",
    ],
}


def dump_set(name: str, tag: str, queries: list[str]) -> None:
    """Write plans/<name>/<query>_<tag>.txt for each query, planned at
    the sf dir the bench measures."""
    from bench import SF_DIR as sf

    spark = get_spark(app_name=f"{name}-plan-dump")
    qs = all_queries()
    out_dir = os.path.join(REPO, "plans", name)
    os.makedirs(out_dir, exist_ok=True)
    for q in queries or QUERY_SETS[name]:
        spark.sparkContext.setJobDescription(f"{name} plan dump: {q}")
        plan = plans.formatted_plan(qs[q](spark, sf))
        path = os.path.join(out_dir, f"{q}_{tag}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(f"wrote {path} ({len(plan)} chars)")
    spark.sparkContext.setJobDescription(None)


def main() -> None:
    if sys.argv[1:2] == ["--set"]:
        args = sys.argv[2:]
        if len(args) < 2 or args[0] not in QUERY_SETS:
            raise SystemExit(
                "usage: dump_plans.py --set {" + ",".join(QUERY_SETS)
                + "} <tag> [query ...]"
            )
        dump_set(args[0], args[1], args[2:])
        return
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    spark = get_spark("plan-audit")
    qs = all_queries()
    out = [HEADER]
    for name, note in NOTES.items():
        p = plans.formatted_plan(qs[name](spark, sf))
        tree_end = p.find("\n\n(1)")
        tree = p[:tree_end] if tree_end > 0 else p
        details = [
            f"({m.group(1)}) Scan parquet\n" + m.group(2)
            for m in re.finditer(r"\((\d+)\) Scan parquet ?\n((?:.+\n)+?)\n", p)
        ]
        out.append(f"## {name}\n\n{note}\n\n```\n{tree}\n\n" + "\n".join(details) + "```\n")
    with open(os.path.join(REPO, "docs", "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print("wrote docs/PLANS.md")


if __name__ == "__main__":
    main()
