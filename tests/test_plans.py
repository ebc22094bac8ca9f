"""Physical-plan assertions: the scale properties the engine is
designed around must actually appear in the executed plan."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from aiesec_guc_spark.catalog import load_table
from aiesec_guc_spark.plans.explain import final_adaptive_plan, formatted_plan
from aiesec_guc_spark.queries import spark_queries
from helpers import (
    analyzed_plan,
    global_window_count,
    has_partial_aggregation,
    pushed_filters,
    read_schema_columns,
    uses_broadcast_join,
)


def test_snapshot_delta_is_broadcast_anti_join(spark, sf_dir):
    # No forced hint — AQE must still pick a broadcast anti join at
    # runtime because the pruned yesterday key set is tiny.
    df = spark_queries()["snapshot_delta_events"](spark, sf_dir)
    plan = final_adaptive_plan(df)
    assert "LeftAnti" in plan
    assert "BroadcastHashJoin" in plan


def test_no_forced_broadcast_of_fact_sized_sides(spark, sf_dir):
    # customer scales with SF; a forced broadcast would OOM at 100×.
    # (Scalar/one-row broadcasts like day_snapshots' max-day aggregate
    # are fine — this pins the absence of hints on *table* sides.)
    df = spark_queries()["topk_customers_per_nation"](spark, sf_dir)
    assert "ResolvedHint" not in analyzed_plan(df)


def test_star_join_broadcasts_all_dims(spark, sf_dir):
    df = spark_queries()["star_revenue_by_nation"](spark, sf_dir)
    plan = formatted_plan(df)
    assert plan.count("BroadcastHashJoin") >= 3
    assert "SortMergeJoin" not in plan


def test_pricing_summary_partial_agg_and_pruning(spark, sf_dir):
    df = spark_queries()["pricing_summary"](spark, sf_dir)
    assert has_partial_aggregation(df)
    cols = read_schema_columns(df)
    # only the needed lineitem columns are read, not all 11
    assert 0 < len(cols) <= 7


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    df = li.filter(F.col("l_returnflag") == "A").select("l_orderkey")
    pf = pushed_filters(df)
    assert "l_returnflag" in pf


def test_topk_uses_take_ordered(spark, sf_dir):
    df = spark_queries()["similarity_cosine_topk"](spark, sf_dir)
    assert "TakeOrderedAndProject" in formatted_plan(df)


def test_broadcast_probe_in_cosine_topk(spark, sf_dir):
    df = spark_queries()["similarity_cosine_topk"](spark, sf_dir)
    assert uses_broadcast_join(df) or "BroadcastNestedLoopJoin" in formatted_plan(df)


def test_interval_join_is_equi_join_not_cross_product(spark, sf_dir):
    # The banded range join must plan as a hash/sort-merge EQUI-join
    # on (key, bucket) — never a per-key cross product.
    df = spark_queries()["events_click_purchase_window"](spark, sf_dir)
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_simhash_pairs_is_banded_equi_join(spark, sf_dir):
    # Candidate pairs must come from the (band, band_key) equi-join —
    # never a fingerprint cross product.
    df = spark_queries()["dedup_simhash_pairs"](spark, sf_dir)
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_multiprobe_broadcasts_probe_buckets(spark, sf_dir):
    # The 9-row exploded probe side broadcasts; candidates come from a
    # hash equi-join on the bucket id, and top-k stays a heap.
    df = spark_queries()["similarity_ann_multiprobe"](spark, sf_dir)
    plan = formatted_plan(df)
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "TakeOrderedAndProject" in plan


def test_connected_components_converges_on_chain(spark):
    # A 6-node chain (worst diameter for its size) collapses to one
    # component labelled by its minimum node.
    from aiesec_guc_spark.operators.graph import connected_components

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 6)] + [(10, 11)],
        "doc_a long, doc_b long",
    )
    got = {r["id"]: r["cluster_id"] for r in connected_components(edges).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 6: 1, 10: 10, 11: 10}


def test_star_cc_matches_min_label_on_corpus(spark, sf_dir):
    # Same labels as the propagation variant on the real near-dup
    # pair graph (MinHash-LSH candidates).
    from aiesec_guc_spark.operators.graph import (
        connected_components,
        connected_components_star,
    )
    from aiesec_guc_spark.queries import spark_queries

    pairs = spark_queries()["dedup_minhash_lsh"](spark, sf_dir).select(
        "doc_a", "doc_b"
    )
    base = {r["id"]: r["cluster_id"] for r in connected_components(pairs).collect()}
    star = {
        r["id"]: r["cluster_id"] for r in connected_components_star(pairs).collect()
    }
    assert base == star and base


def test_star_cc_long_chain_logarithmic_rounds(spark):
    # A 64-node chain needs 63 min-label rounds; large-star/small-star
    # must finish within an O(log n) budget.
    from aiesec_guc_spark.operators.graph import connected_components_star

    n = 64
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(1, n)], "doc_a long, doc_b long"
    )
    got = {
        r["id"]: r["cluster_id"]
        for r in connected_components_star(edges, max_iter=10).collect()
    }
    assert got == {i: 1 for i in range(1, n + 1)}


def test_ivf_candidate_fetch_is_broadcast_pruned(spark, sf_dir):
    # The probed-centroid set (IVF_NPROBE rows) must broadcast into a
    # hash equi-join on cid — never a cartesian pairing of corpus ×
    # centroids outside the deliberate broadcast assignment step — and
    # the final top-k stays a per-partition heap.
    df = spark_queries()["similarity_ivf_flat"](spark, sf_dir)
    plan = formatted_plan(df)
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "TakeOrderedAndProject" in plan


def test_decontaminate_broadcasts_benchmark_grams(spark, sf_dir):
    # The benchmark gram set broadcasts (eval sets are tiny next to
    # the corpus); the corpus gram stream must never shuffle before
    # the join — the only exchange is the post-join overlap count.
    df = spark_queries()["decontaminate_ngram_overlap"](spark, sf_dir)
    plan = formatted_plan(df)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_kmeans_assignment_broadcasts_centroid_side(spark, sf_dir):
    # Lloyd-round assignment: the K-row centroid table must broadcast
    # into the scoring join (BroadcastNestedLoopJoin is the legitimate
    # physical form of the deliberate K-row cross join); the argmax
    # must partial-aggregate before its exchange.
    from aiesec_guc_spark.queries.similarity import _assign_nearest

    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("emb")
    )
    cents = e.limit(16).select(
        F.col("vec_id").alias("cid"), F.col("emb").alias("cvec")
    )
    df = _assign_nearest(e, cents)
    plan = formatted_plan(df)
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan
    assert has_partial_aggregation(df)


def test_order_priority_is_semi_join_not_count(spark, sf_dir):
    # EXISTS must plan as a LEFT SEMI equi-join on orderkey with the
    # ship-date inequality as a residual — never a cross product, and
    # never an inner join + distinct (which would double-count orders
    # with several late lineitems).
    df = spark_queries()["order_priority_semi"](spark, sf_dir)
    plan = formatted_plan(df)
    assert "LeftSemi" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_small_qty_reuses_partkey_exchange(spark, sf_dir):
    # The decorrelated per-part aggregate and the join back share the
    # l_partkey partitioning — Catalyst/AQE must not degrade either to
    # a cross product, and the brand dim must broadcast.
    df = spark_queries()["small_qty_order_revenue"](spark, sf_dir)
    plan = formatted_plan(df)
    assert "BroadcastHashJoin" in plan  # brand dim
    assert "CartesianProduct" not in plan
    assert has_partial_aggregation(df)


def test_salted_join_keeps_column_pruning(spark, sf_dir):
    # The content-derived salt names its spread columns explicitly, so
    # the lineitem scan must stay pruned to the 5 selected columns —
    # a salt over all columns would silently read the whole table.
    df = spark_queries()["salted_revenue_by_nation"](spark, sf_dir)
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan
    li_cols = [c for c in read_schema_columns(df) if c.startswith("l_")]
    assert 0 < len(li_cols) <= 5


def test_recall_joins_broadcast_exact_topk(spark, sf_dir):
    # The exact top-k side is TOPK rows — the hit join must broadcast
    # it, and no stage may degrade to a cartesian pairing.
    df = spark_queries()["similarity_ann_recall"](spark, sf_dir)
    plan = formatted_plan(df)
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_zorder_layout_bounds_both_dimension_spans(spark, tmp_path):
    # On a full 256×256 (uid, hr) grid, a z-ordered write must give
    # every file a bounded span in BOTH dimensions (so predicates on
    # either column prune files via parquet footer min/max), while an
    # hr-sorted layout leaves uid at full width in every file.  The
    # span *product* is area-invariant — the balance is the win.
    from aiesec_guc_spark.queries.timeseries import _z_interleave

    grid = spark.range(256 * 256).select(
        (F.col("id") % 256).alias("uid_lo"),
        (F.col("id") / 256).cast("long").alias("hr_lo"),
    )
    # Buckets are ALIGNED z blocks (fixed high bits, zval >> 12 → 16
    # buckets), matching the layout_zorder_stats query: an arbitrary
    # contiguous z range from sampled repartitionByRange boundaries
    # can straddle a high-bit flip and blow a dimension's span to
    # full width — alignment is part of the layout contract.
    z = grid.withColumn("zval", F.expr(_z_interleave("uid_lo", "hr_lo")))
    zdir, tdir = str(tmp_path / "zorder"), str(tmp_path / "bytime")
    z.withColumn("zb", F.shiftright("zval", 12)).write.partitionBy("zb").parquet(zdir)
    z.withColumn("hb", F.shiftright("hr_lo", 4)).write.partitionBy("hb").parquet(tdir)

    def max_spans(path: str) -> tuple[int, int]:
        r = (
            spark.read.parquet(path)
            .groupBy(F.input_file_name().alias("f"))
            .agg(
                (F.max("uid_lo") - F.min("uid_lo") + 1).alias("us"),
                (F.max("hr_lo") - F.min("hr_lo") + 1).alias("hs"),
            )
            .agg(F.max("us"), F.max("hs"))
            .collect()[0]
        )
        return r[0], r[1]

    z_uid, z_hr = max_spans(zdir)
    t_uid, _ = max_spans(tdir)
    assert t_uid == 256  # hr-partitioned: uid predicates prune nothing
    assert z_uid <= 64 and z_hr <= 64  # aligned z blocks bound BOTH dims


def test_latest_event_is_aggregate_not_window(spark, sf_dir):
    # CDC compaction must plan as a map-side-combinable max(struct)
    # aggregate — the window form would shuffle #events rows and is
    # exactly what the query exists to avoid.
    df = spark_queries()["latest_event_per_user"](spark, sf_dir)
    plan = formatted_plan(df)
    assert "Window" not in plan
    assert has_partial_aggregation(df)
    # props is never referenced; pruning must keep it out of the scan
    assert "props" not in read_schema_columns(df)


def test_trade_volume_broadcasts_pruned_dims(spark, sf_dir):
    # The nation-filtered supplier/customer sides are tiny after
    # pruning; AQE must broadcast them, and the disjunctive nation
    # predicate must never degenerate into a cross product.
    df = spark_queries()["nation_trade_volume"](spark, sf_dir)
    plan = final_adaptive_plan(df)
    assert plan.count("BroadcastHashJoin") >= 2
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_cheapest_offer_prunes_scan_and_broadcasts_brand(spark, sf_dir):
    df = spark_queries()["cheapest_offer_per_part"](spark, sf_dir)
    plan = formatted_plan(df)
    assert "BroadcastHashJoin" in plan
    # argmin window partitions by partkey — never a global window
    assert "SinglePartition" not in plan


def test_scd2_windows_are_user_partitioned(spark, sf_dir):
    # Every window in the SCD2 build partitions by user (or
    # user+status) — a single-partition window over the daily frame
    # would serialize the whole history through one task.
    df = spark_queries()["scd2_user_status_history"](spark, sf_dir)
    plan = formatted_plan(df)
    assert "Window" in plan
    assert "SinglePartition" not in plan


def test_decayed_engagement_broadcasts_bounds_row(spark, sf_dir):
    # The date-bounds scalar is a 1-row aggregate broadcast into the
    # scan — the plan must show a broadcast nested-loop (1-row cross
    # join), never a driver collect (which wouldn't appear as a join
    # at all) and never a shuffled join.
    df = spark_queries()["decayed_user_engagement"](spark, sf_dir)
    plan = formatted_plan(df)
    assert "BroadcastNestedLoopJoin" in plan
    assert has_partial_aggregation(df)


def test_discriminative_terms_counts_before_ranking(spark, sf_dir):
    # tf/df must two-phase aggregate (tokens counted map-side before
    # any shuffle); the per-lang ranking window runs over the tiny
    # vocabulary frame.
    df = spark_queries()["text_discriminative_terms"](spark, sf_dir)
    assert has_partial_aggregation(df)
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan


def test_runtime_bloom_filter_prunes_fact_side(spark, sf_dir):
    # At 100 TB Catalyst injects a runtime bloom filter on the fact
    # side of a selective shuffle join (application side must scan
    # >10 GB by default — exactly the scale this engine targets).
    # The corpus is far below that threshold, so lower it to observe
    # the injection and pin that the feature stays available: the
    # filtered orders side builds a bloom_filter_agg over the join
    # key and the lineitem scan probes it before shuffling.
    from aiesec_guc_spark.catalog import load_table
    from aiesec_guc_spark.plans.explain import formatted_plan

    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
    }
    prev = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        li = load_table(spark, sf_dir, "lineitem")
        o = load_table(spark, sf_dir, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        df = (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .groupBy("o_orderpriority")
            .count()
        )
        plan = formatted_plan(df)
        assert "bloom_filter_agg" in plan
        assert "might_contain" in plan.lower() or "BloomFilter" in plan
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_disjunctive_predicate_pushes_part_side(spark, sf_dir):
    # Q19 shape: the part-side projection of the OR-of-ANDs predicate
    # must reach the part scan (brand/size Or-tree in PushedFilters),
    # the pruned dim must broadcast, and the cross-side residual must
    # stay a hash-join condition — never a cross product.
    df = spark_queries()["disjunctive_brand_revenue"](spark, sf_dir)
    plan = formatted_plan(df)
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l]
    assert any("p_brand" in l and "Or(" in l for l in pushed)
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_basket_build_has_single_fact_exchange(spark, sf_dir):
    # the basket family's first stage: part broadcasts into the scan,
    # and the ONLY fact-sized exchange is the orderkey collect_set —
    # pair enumeration must stay map-side (no join after the agg)
    from aiesec_guc_spark.queries.product import (
        _brand_baskets,
        _brand_pair_counts,
    )

    pairs = _brand_pair_counts(_brand_baskets(spark, sf_dir))
    plan = formatted_plan(pairs)
    assert "BroadcastHashJoin" in plan  # part dim into the fact scan
    assert "SortMergeJoin" not in plan  # never a fact self-join
    # two aggregates (baskets + pair counts), each with partial phase
    assert "ObjectHashAggregate" in plan or "HashAggregate" in plan


def test_pit_join_is_asof_carry_not_range_join(spark, sf_dir):
    # the SCD2 point-in-time lookup must plan as the union+window
    # as-of carry: no join between purchases and runs at all (the
    # interval form would show a join with a non-equi condition)
    df = spark_queries()["pit_purchase_status"](spark, sf_dir)
    plan = formatted_plan(df)
    assert "Window" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_join_size_estimate_never_joins_raw_facts(spark, sf_dir):
    # the estimator's whole point: per-key count frames join, the raw
    # facts never do — every join input is an aggregate
    df = spark_queries()["join_size_estimate"](spark, sf_dir)
    plan = formatted_plan(df)
    assert has_partial_aggregation(df)
    # both fact scans feed an aggregate before any join: the word
    # "Join" must never appear between a Scan and the first Aggregate
    # in the per-side subtrees — cheap proxy: plan has ≥4 aggregates
    # (2 per-key + 2 fold sides) and exactly tiny-side joins
    assert plan.count("HashAggregate") >= 4


def test_q6_date_range_reaches_lineitem_scan(spark, sf_dir):
    # the Q6 claim "every predicate reaches PushedFilters" is only
    # true now that load_table infers nano-ts columns as TimestampType
    # at the scan (the NTZ + cast shape silently kept ALL date ranges
    # out of PushedFilters) — pin the query-level behavior here
    df = spark_queries()["forecast_revenue_change"](spark, sf_dir)
    plan = formatted_plan(df)
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l]
    assert any("l_shipdate" in l and "GreaterThanOrEqual" in l for l in pushed), pushed


def test_ngram_prefix_variant_matches_blocked_and_joins_prefixes_only(
    spark, sf_dir
):
    """The PPJoin prefix-filtered n-gram Jaccard (the 100 TB shape for
    Zipfian grams) must (a) produce the EXACT pair set of the blocked
    variant — prefix filtering is lossless — and (b) actually restrict
    the candidate join to per-doc prefixes: the plan must carry the
    rk <= sz - ceil(t*sz) + 1 filter on both join inputs, and never a
    cartesian pairing."""
    qs = spark_queries()
    blocked = qs["dedup_ngram_jaccard"](spark, sf_dir)
    prefixed = qs["dedup_ngram_jaccard_prefix"](spark, sf_dir)

    key = lambda r: (r["lang"], r["source"], r["doc_a"], r["doc_b"])
    got = {key(r): r["jaccard"] for r in prefixed.collect()}
    want = {key(r): r["jaccard"] for r in blocked.collect()}
    assert set(got) == set(want)
    for k, v in want.items():
        assert abs(got[k] - v) < 1e-12

    plan = formatted_plan(prefixed)
    assert "CartesianProduct" not in plan
    # the candidate join reads the MATERIALIZED gram/prefix frames
    # (localCheckpoint scans), not recomputed subtrees: the prefix
    # filter ran once, upstream of this plan
    assert plan.count("Scan ExistingRDD") >= 2


def test_fan_out_scan_noop_when_already_parallel(spark, sf_dir):
    """fan_out_scan must add its exchange ONLY for under-split scans:
    a well-partitioned input (the 100 TB layout) passes through
    unchanged — the guard is what keeps the local fix from becoming a
    full-data shuffle at scale."""
    from aiesec_guc_spark.catalog import fan_out_scan

    n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    li = load_table(spark, sf_dir, "lineitem")

    fanned = fan_out_scan(spark, li)
    assert fanned.rdd.getNumPartitions() == n  # corpus is under-split

    well_split = li.repartition(n)
    again = fan_out_scan(spark, well_split)
    assert again is well_split  # no second exchange stacked on top


def test_degree_oriented_triangles_match_ordered_on_skewed_graph(spark):
    """Property test (VERDICT r6 #6): on a skewed synthetic graph — a
    hub star plus deliberately planted triangles — the degree-oriented
    count must equal the ordered-orientation (a<b<c) reference count
    per node, and the plan must contain no cartesian pairing."""
    import random

    from aiesec_guc_spark.operators.graph import (
        triangle_counts_degree_oriented,
    )

    rng = random.Random(13)
    edges = set()
    # hub 0 connected to 1..60 (degree-60 hub, zero triangles by itself)
    for i in range(1, 61):
        edges.add((0, i))
    # planted triangles among the spokes (hub-adjacent → hub triangles too)
    for _ in range(40):
        x, y = sorted(rng.sample(range(1, 61), 2))
        edges.add((x, y))
    # a detached clique of 5 → C(5,3)=10 triangles per definition
    for x in range(100, 105):
        for y in range(x + 1, 105):
            edges.add((x, y))
    df = spark.createDataFrame(sorted(edges), "a long, b long")

    got = {
        r["node"]: r["n_triangles"]
        for r in triangle_counts_degree_oriented(df).collect()
    }

    # ordered-orientation reference, computed in plain Python
    adj = {}
    for x, y in edges:
        adj.setdefault(x, set()).add(y)
        adj.setdefault(y, set()).add(x)
    want: dict[int, int] = {}
    for x, y in edges:
        for z in adj[x] & adj[y]:
            if x < y < z:
                for n in (x, y, z):
                    want[n] = want.get(n, 0) + 1
    assert got == want
    assert sum(want.values()) % 3 == 0 and sum(want.values()) > 0

    plan = formatted_plan(triangle_counts_degree_oriented(df))
    assert "CartesianProduct" not in plan


def test_exact_ntile_skewed_input_matches_native_ntile(spark):
    """Forced-large-group shape (VERDICT r6 #9): with one value range
    holding ~all rows, exact_ntile must reproduce native ntile
    bit-for-bit."""
    from aiesec_guc_spark.operators.quantiles import exact_ntile

    n = 50_000
    # 99% of rows share one hot value; the id tie-break keeps the
    # order strict.
    df = spark.range(n).select(
        F.when(F.col("id") % 100 < 99, F.lit(7.0))
        .otherwise(F.col("id").cast("double"))
        .alias("v"),
        F.col("id"),
    )
    out = exact_ntile(df, ["v", "id"], 10)

    got = {r["id"]: r["bucket"] for r in out.collect()}
    want = {
        r["id"]: r["nb"]
        for r in df.withColumn(
            "nb",
            F.ntile(10).over(
                Window.partitionBy().orderBy(F.col("v"), F.col("id"))
            ),
        ).collect()
    }
    assert got == want


def test_bpe_learn_merges_broadcasts_argmax_no_cartesian(spark, sf_dir):
    """Each BPE round's argmax row must reach the next round's fold as
    a broadcast (1-row side), and the plan may contain no cartesian
    product — the crossJoin is the deliberate broadcast-scalar fold."""
    df = spark_queries()["bpe_learn_merges"](spark, sf_dir)
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan

    # semantics spot-check: rounds are 1..3, merged = pair_a || pair_b
    rows = {r["round"]: r for r in df.collect()}
    assert sorted(rows) == [1, 2, 3]
    for r in rows.values():
        assert r["merged"] == r["pair_a"] + r["pair_b"]
        assert r["n"] > 0


def test_fan_out_sites_keep_column_pruning(spark, sf_dir):
    """The fan-out round-robin exchange must not defeat column
    pruning: Catalyst pushes the project below Repartition, so the
    scan reads only the needed columns, not the whole table — at
    100 TB an unpruned exchange would ship every column of the fact."""
    qs = spark_queries()
    expectations = {
        "text_lang_id": {"doc_id", "text", "lang"},
        "json_scalar_extract": {"event_id", "props"},
        "star_revenue_by_nation": {
            "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount",
        },
    }
    for name, want in expectations.items():
        df = qs[name](spark, sf_dir)
        got = set(read_schema_columns(df))
        assert got == want, (name, got)


def test_int8_recall_broadcasts_probe_codes(spark, sf_dir):
    """The 64-row probe-code side and the per-dim stats must broadcast
    into the skinny code joins; no cartesian pairing beyond the
    deliberate 1-row count folds."""
    df = spark_queries()["similarity_int8_topk_recall"](spark, sf_dir)
    plan = formatted_plan(df)
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "TakeOrderedAndProject" in plan

    row = df.collect()[0]
    assert row["n_exact"] == row["n_approx"] == 10
    assert 0.0 <= row["recall"] <= 1.0


def test_curation_queries_shapes(spark, sf_dir):
    """cap_docs_per_source: per-source window, never a global sort;
    corpus_mixture_rebalance: the 1-row target broadcasts and the kept
    counts are exact (sum over langs == min(n_before, target) sums)."""
    qs = spark_queries()
    cap = qs["cap_docs_per_source"](spark, sf_dir)
    plan = formatted_plan(cap)
    assert "SinglePartition" not in plan

    mix = qs["corpus_mixture_rebalance"](spark, sf_dir)
    rows = mix.collect()
    for r in rows:
        assert r["n_kept"] == min(r["n_before"], r["n_target"])


def test_exact_global_rank_matches_naive_window(spark):
    """exact_global_rank must reproduce the naive global row_number
    AND inclusive running sum bit-for-bit on a skewed input —
    including a descending order and decimal cumulative sums."""
    from aiesec_guc_spark.operators.quantiles import exact_global_rank

    n = 20_000
    # 99% of rows share one hot key; unique id breaks ties
    df = spark.range(n).select(
        F.when(F.col("id") % 100 < 99, 7).otherwise(F.col("id") % 100).alias("v"),
        F.col("id"),
        (F.col("id") % 97).cast("decimal(14,2)").alias("amt"),
    )

    ranked, total, tot_sum = exact_global_rank(
        df, [F.desc("v"), F.asc("id")], sum_col="amt"
    )
    assert total == n
    got = {
        r["id"]: (r["_grank"], r["_gcumsum"])
        for r in ranked.collect()
    }
    # grank long, cumsum the exact sum dtype
    assert dict(ranked.dtypes)["_grank"] == "bigint"
    assert dict(ranked.dtypes)["_gcumsum"].startswith("decimal")

    w = Window.orderBy(F.desc("v"), F.asc("id"))
    naive = df.select(
        "id",
        F.row_number().over(w).alias("rk"),
        F.sum("amt")
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("cum"),
    )
    want = {r["id"]: (r["rk"], r["cum"]) for r in naive.collect()}
    assert {k: v[0] for k, v in got.items()} == {k: v[0] for k, v in want.items()}
    # decimal cumulative sums compare exactly
    assert {k: v[1] for k, v in got.items()} == {k: v[1] for k, v in want.items()}
    assert tot_sum == sorted(want.values())[-1][1] or tot_sum == max(
        v[1] for v in want.values()
    )


def test_exact_global_rank_empty_and_single_row(spark):
    from aiesec_guc_spark.operators.quantiles import exact_global_rank

    empty = spark.range(0).select(F.col("id"), F.col("id").alias("v"))
    ranked, total, _ = exact_global_rank(empty, ["v", "id"])
    assert total == 0 and ranked.count() == 0

    one = spark.range(1).select(F.col("id"), F.col("id").alias("v"))
    ranked, total, _ = exact_global_rank(one, ["v", "id"])
    assert total == 1
    assert [r["_grank"] for r in ranked.collect()] == [1]


def test_round8_ops_plan_shapes(spark, sf_dir):
    # E140/E142 scale shapes: the CMS probe set and the MaxSim query
    # set broadcast (never a fact-sized shuffle side); nothing plans a
    # cartesian product.
    q = spark_queries()
    cms = q["events_heavy_hitters_cms"](spark, sf_dir)
    assert "BroadcastHashJoin" in formatted_plan(cms)
    assert "CartesianProduct" not in formatted_plan(cms)

    maxsim = q["similarity_maxsim"](spark, sf_dir)
    plan = formatted_plan(maxsim)
    # the broadcast query side joins with no equi-key (score-all shape)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert global_window_count(maxsim) == 0  # top-k window is per-query


def test_bloom_decontaminate_broadcasts_filter_words(spark, sf_dir):
    # E147: the Bloom filter must reach the probe join as a broadcast
    # (≤66 word rows regardless of benchmark size), and nothing in
    # the pipeline may plan a cartesian product or a global window —
    # the corpus side streams map-side through the probe join.
    df = spark_queries()["decontaminate_bloom"](spark, sf_dir)
    plan = formatted_plan(df)
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert global_window_count(df) == 0


def test_rrf_fusion_inputs_are_topk_heaps(spark, sf_dir):
    # E148: both retriever lists are TakeOrderedAndProject heaps (no
    # full-sort shuffle of the corpus), and the only windows rank the
    # ≤TOPK-row lists — bounded, not corpus-sized.
    df = spark_queries()["similarity_rrf_fusion"](spark, sf_dir)
    plan = formatted_plan(df)
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_split_assign_is_projection_plus_partial_agg(spark, sf_dir):
    # E149: split assignment adds no shuffle beyond the audit
    # group-by (one Exchange), and the aggregate combines map-side.
    df = spark_queries()["corpus_split_assign"](spark, sf_dir)
    assert has_partial_aggregation(df)
    # exactly one Exchange node in the plan tree (the audit group-by);
    # formatted plans repeat each node in the detail section, so count
    # the tree-form "+- Exchange" only
    assert formatted_plan(df).count("+- Exchange") == 1


def test_boilerplate_screen_broadcasts_source_totals(spark, sf_dir):
    # E150: per-source doc totals broadcast into the DF join; the
    # gram side never cartesians.
    df = spark_queries()["boilerplate_bigram_df"](spark, sf_dir)
    plan = formatted_plan(df)
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_exact_global_cummax_matches_naive_window(spark):
    """exact_global_cummax (under pareto_frontier_customers) must
    reproduce the naive EXCLUSIVE global prefix max bit-for-bit on a
    skewed input — NULL for the global first row."""
    from aiesec_guc_spark.operators.quantiles import exact_global_cummax

    n = 20_000
    df = spark.range(n).select(
        F.when(F.col("id") % 100 < 99, 7).otherwise(F.col("id") % 100).alias("v"),
        F.col("id"),
        ((F.col("id") * 37) % 1009).cast("double").alias("y"),
    )
    swept = exact_global_cummax(df, [F.desc("v"), F.asc("id")], "y")
    assert global_window_count(swept) == 1  # the one partition-less window
    got = {r["id"]: r["_gcummax_excl"] for r in swept.collect()}

    w = Window.orderBy(F.desc("v"), F.asc("id"))
    naive = df.select(
        "id",
        F.max("y").over(w.rowsBetween(Window.unboundedPreceding, -1)).alias("m"),
    )
    want = {r["id"]: r["m"] for r in naive.collect()}
    assert got == want
    assert sum(1 for x in got.values() if x is None) == 1  # global first row


def test_twap_window_is_per_user(spark, sf_dir):
    # E152: the lead() window partitions by user_id — never global.
    df = spark_queries()["events_twap_by_user"](spark, sf_dir)
    assert global_window_count(df) == 0
    assert has_partial_aggregation(df)


def test_bm25_is_projection_plus_heap(spark, sf_dir):
    # E153: per-doc tf/dl stats must be a pure projection (no explode
    # shuffle), the corpus constants one broadcast row, and the top-k a
    # per-partition heap — never a global sort or cartesian product.
    df = spark_queries()["text_bm25_retrieval"](spark, sf_dir)
    plan = formatted_plan(df)
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan
    assert "Generate" not in plan  # no explode in the scoring path


def test_interval_overlaps_is_key_partitioned(spark, sf_dir):
    # E154: the interval self-join must block on the customer key —
    # an equi-join, never a cartesian/broadcast-nested-loop all-pairs.
    df = spark_queries()["order_interval_overlaps"](spark, sf_dir)
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan
    assert global_window_count(df) == 0
    assert has_partial_aggregation(df)


def test_cusum_windows_are_per_type(spark, sf_dir):
    # E155: every CUSUM window partitions by event_type — never global.
    df = spark_queries()["events_cusum_changepoint"](spark, sf_dir)
    assert global_window_count(df) == 0
    assert has_partial_aggregation(df)


def test_prefix_truncation_is_banded_equijoin(spark, sf_dir):
    # E156: candidates must come from the band-key EQUI-join (hash or
    # sort-merge on the 24-char head) — the startswith verification is
    # a post-join filter, never the join itself.
    df = spark_queries()["dedup_prefix_truncation"](spark, sf_dir)
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_hll_intersection_single_pass(spark, sf_dir):
    # E157: the sketch build is one scan with map-side-combinable
    # aggregates; no shuffle of raw user ids beyond the one exact-twin
    # group-by, and no global window anywhere.
    df = spark_queries()["hll_intersection_users"](spark, sf_dir)
    assert global_window_count(df) == 0
    assert has_partial_aggregation(df)
    assert "CartesianProduct" not in formatted_plan(df)


def test_mad_outliers_histogram_shape(spark, sf_dir):
    # E158: medians must come off the bounded (type, cents) histogram —
    # map-side-combinable aggregates, windows only over histogram
    # frames (partitioned by type), never a raw-event sort.
    df = spark_queries()["events_value_mad_outliers"](spark, sf_dir)
    assert global_window_count(df) == 0
    assert has_partial_aggregation(df)
    assert "CartesianProduct" not in formatted_plan(df)


def test_join_ivm_partials_merge(spark, sf_dir):
    # E160: all four IVM terms must be mergeable partial aggregates
    # (map-side combine on the union) and no term may degrade to a
    # cartesian product.
    df = spark_queries()["incremental_join_maintenance"](spark, sf_dir)
    assert has_partial_aggregation(df)
    assert "CartesianProduct" not in formatted_plan(df)


def test_random_projection_is_pure_map(spark, sf_dir):
    # E161: projection must be a single scan + codegen projection —
    # no exchange, no generate, no UDF (BatchEvalPython) anywhere.
    df = spark_queries()["embedding_random_projection"](spark, sf_dir)
    plan = formatted_plan(df)
    for op in ("Exchange", "Generate", "BatchEvalPython", "CartesianProduct"):
        assert op not in plan, op


def test_ols_trend_sufficient_stats_shape(spark, sf_dir):
    # E162: both aggregate layers must be map-side combinable, the dim
    # join broadcast, and no window/sort anywhere.
    df = spark_queries()["nation_revenue_trend_ols"](spark, sf_dir)
    plan = formatted_plan(df)
    assert has_partial_aggregation(df)
    assert "BroadcastHashJoin" in plan
    assert global_window_count(df) == 0


def test_lateness_audit_window_is_per_user(spark, sf_dir):
    # E163: the running high-water mark must partition by user —
    # never a global window — and the type rollup must map-combine.
    df = spark_queries()["events_watermark_lateness_audit"](spark, sf_dir)
    assert global_window_count(df) == 0
    assert has_partial_aggregation(df)


def test_installment_expansion_is_codegen_generate(spark, sf_dir):
    # E164: the 1->N expansion must be a JVM Generate (explode) with
    # no exchange and no Python evaluation.
    df = spark_queries()["order_installment_schedule"](spark, sf_dir)
    plan = formatted_plan(df)
    assert "Generate" in plan
    for op in ("Exchange", "BatchEvalPython", "CartesianProduct"):
        assert op not in plan, op


def test_benford_is_scan_plus_nine_cells(spark, sf_dir):
    # E165: a projection to d in 1..9, one map-combinable count, one
    # broadcast total — no window, no cartesian.
    df = spark_queries()["orders_benford_first_digit"](spark, sf_dir)
    assert global_window_count(df) == 0
    assert has_partial_aggregation(df)
    assert "CartesianProduct" not in formatted_plan(df)


def test_dispersion_sufficient_stats_shape(spark, sf_dir):
    # E166: same two-aggregate sufficient-statistics fold as OLS.
    df = spark_queries()["events_arrival_dispersion"](spark, sf_dir)
    assert global_window_count(df) == 0
    assert has_partial_aggregation(df)


def test_lsh_band_sweep_no_cross_product(spark, sf_dir):
    # E167: every config's candidate generation must be the banded
    # bucket EQUI-join — no cartesian/nested-loop anywhere in the
    # unioned sweep plan.
    df = spark_queries()["dedup_lsh_band_sweep"](spark, sf_dir)
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_leadtime_percentiles_histogram_shape(spark, sf_dir):
    # E168: rank hunt over the (supplier, days) histogram — windows
    # partition by supplier, aggregates map-combine, no cartesian.
    df = spark_queries()["shipping_leadtime_percentiles"](spark, sf_dir)
    assert global_window_count(df) == 0
    assert has_partial_aggregation(df)
    assert "CartesianProduct" not in formatted_plan(df)


def test_vocab_growth_single_pass(spark, sf_dir):
    # E169: the decile must be a pure projection — no ntile/row_number
    # over the corpus (the partition-less windows that remain run over
    # the 10-row decile frame, bounded by construction).  The term
    # min-aggregate must map-combine.
    df = spark_queries()["corpus_vocab_growth"](spark, sf_dir)
    plan = formatted_plan(df)
    assert has_partial_aggregation(df)
    assert "CartesianProduct" not in plan
    assert "ntile" not in plan.lower()


def test_behavior_diversity_two_combinable_aggs(spark, sf_dir):
    # E170: (user, type) grain then user grain — both partial-agg
    # exchanges, no window, no join.
    df = spark_queries()["user_behavior_diversity"](spark, sf_dir)
    plan = formatted_plan(df)
    assert has_partial_aggregation(df)
    assert global_window_count(df) == 0
    assert "Join" not in plan


def test_source_quality_shrunk_broadcast_global(spark, sf_dir):
    # E171: the 1-row global fold is broadcast back; the only joins
    # are that broadcast — no shuffle join of source-grain frames.
    df = spark_queries()["source_quality_shrunk"](spark, sf_dir)
    plan = formatted_plan(df)
    assert has_partial_aggregation(df)
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_cluster_histogram_never_builds_pairs(spark, sf_dir):
    # E172: two combinable aggregates, no join at all — a template
    # flood is one count row, never a pair blowup.
    df = spark_queries()["dedup_cluster_size_histogram"](spark, sf_dir)
    plan = formatted_plan(df)
    assert has_partial_aggregation(df)
    assert global_window_count(df) == 0
    assert "Join" not in plan


def test_bigram_lm_no_posexplode_self_join(spark, sf_dir):
    # E173: bigrams come from a slice+transform projection — the plan
    # must contain exactly one Generate (the explode of the built
    # bigram array) and no cartesian; the median window partitions by
    # doc_id.
    df = spark_queries()["text_bigram_lm_quality"](spark, sf_dir)
    plan = formatted_plan(df)
    assert global_window_count(df) == 0
    assert "CartesianProduct" not in plan
    assert has_partial_aggregation(df)


def test_zipf_slope_combinable_folds(spark, sf_dir):
    # E174: rank window partitions by lang (never global); the OLS
    # fold is a partial aggregation.
    df = spark_queries()["text_zipf_octave_slope"](spark, sf_dir)
    assert global_window_count(df) == 0
    assert has_partial_aggregation(df)
    assert "CartesianProduct" not in formatted_plan(df)


def test_hard_negatives_no_cross_product(spark, sf_dir):
    # E175: candidates come from the banded bucket equi-join — no
    # all-pairs anywhere, and the per-anchor window is partitioned.
    df = spark_queries()["sample_hard_negatives"](spark, sf_dir)
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert global_window_count(df) == 0


def test_dim_variance_single_combinable_fold(spark, sf_dir):
    # E176: posexplode projection + ONE partial aggregation to
    # dim-count rows; no window, no join.
    df = spark_queries()["embedding_dim_variance"](spark, sf_dir)
    plan = formatted_plan(df)
    assert has_partial_aggregation(df)
    assert global_window_count(df) == 0
    assert "Join" not in plan


def test_dow_seasonality_date_domain_windows(spark, sf_dir):
    # E177: the corpus-sized input collapses to date grain via a
    # partial aggregation BEFORE any window; the MA window is ordered
    # over the date-domain frame (documented bounded-domain posture,
    # same as gapfill), so a global window IS expected here — assert
    # the partial agg feeds it and nothing cartesian appears.
    df = spark_queries()["orders_dow_seasonality"](spark, sf_dir)
    plan = formatted_plan(df)
    assert has_partial_aggregation(df)
    assert "CartesianProduct" not in plan


def test_shingle_hotspot_heap_head(spark, sf_dir):
    # E178: top-k must be TakeOrderedAndProject (no global sort) and
    # the pipeline never forms a pair join.
    df = spark_queries()["dedup_shingle_hotspot_audit"](spark, sf_dir)
    plan = formatted_plan(df)
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan
    assert has_partial_aggregation(df)


def test_session_duration_hist_single_user_shuffle(spark, sf_dir):
    # E179: both sessionizer windows share the user-keyed sort; the
    # two aggregates after it are combinable; no global window.
    df = spark_queries()["session_duration_histogram"](spark, sf_dir)
    assert global_window_count(df) == 0
    assert has_partial_aggregation(df)


def test_hhi_broadcasts_dim_chain(spark, sf_dir):
    # E180: the supplier->nation->region chain must broadcast; the
    # fact side never shuffles for the joins.
    df = spark_queries()["supplier_hhi_by_region"](spark, sf_dir)
    plan = formatted_plan(df)
    assert plan.count("BroadcastHashJoin") >= 3
    assert "SortMergeJoin" not in plan
    assert has_partial_aggregation(df)


def test_pq_adc_broadcasts_codebook(spark, sf_dir):
    # E182: the 16-row codebook must broadcast everywhere it is
    # joined; the head is a heap, and nothing cartesian beyond the
    # broadcast 1-row probe / 16-row codebook appears.
    df = spark_queries()["similarity_pq_adc"](spark, sf_dir)
    plan = formatted_plan(df)
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_substring_windows_no_pairwise_join(spark, sf_dir):
    # E183: duplicate detection must be a grouped count on the window
    # hash plus one equi-join back — never a doc×doc candidate join,
    # never a window function, and the explode must keep partial
    # aggregation (within-doc distinct collapses before the shuffle).
    df = spark_queries()["dedup_substring_windows"](spark, sf_dir)
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan
    assert global_window_count(df) == 0
    assert has_partial_aggregation(df)
    # exactly one join operator (the dup-hash mark-back); a pairwise
    # candidate variant would need at least two
    n_joins = sum(
        plan.count(j)
        for j in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin")
    )
    assert n_joins <= 2  # tree node + its formatted-details section


def test_temperature_mixture_broadcasts_total(spark, sf_dir):
    # E184: the 1-row (n_total, sw_sum) aggregate must broadcast back
    # over the language rows; nothing here may shuffle more than the
    # grouped count.
    df = spark_queries()["corpus_temperature_mixture"](spark, sf_dir)
    plan = formatted_plan(df)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert has_partial_aggregation(df)


def test_leakage_safe_split_cluster_grain(spark, sf_dir):
    # E185: after the (plan-asserted elsewhere) LSH+CC machinery, the
    # split logic must stay cluster-grain — combinable aggregates, no
    # global window, no cartesian anywhere in the composed plan.
    df = spark_queries()["corpus_split_leakage_safe"](spark, sf_dir)
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan
    assert global_window_count(df) == 0
    assert has_partial_aggregation(df)


def test_broadcast_total_branches_never_rescan_the_fact(spark, sf_dir):
    # Round-10 audit pin: for the "aggregate feeds its own broadcast
    # total" queries, the derived aggregate is checkpointed BEFORE the
    # total fold — so the final plan reads it via ExistingRDD and the
    # fact table appears at most the expected number of times (each
    # physical scan prints twice in formatted explain: tree node +
    # detail block).  A regression here re-introduces a second
    # full-table pass per plan branch at 100 TB.
    expected_scan_prints = {
        "orders_benford_first_digit": 0,
        "text_bm25_retrieval": 0,
        "source_quality_shrunk": 0,
        "dedup_shingle_hotspot_audit": 0,
        "events_seasonality_heatmap": 0,
        "join_size_estimate": 0,
        "corpus_temperature_mixture": 0,
        "corpus_repeat_factors": 0,
        "important_stock_parts": 0,
        "basket_pair_lift": 0,
        "brand_pagerank": 0,
        "corpus_mixture_rebalance": 2,   # the rank pass scans documents once
        "text_discriminative_terms": 2,  # n_docs counts documents once
        "top_supplier_revenue": 2,       # the supplier dim joins once
        "text_bigram_lm_quality": 2,     # the vocab fold scans documents once
    }
    qs = spark_queries()
    for name, want in expected_scan_prints.items():
        plan = formatted_plan(qs[name](spark, sf_dir))
        got = plan.count("Scan parquet")
        assert got <= want, f"{name}: {got} scan prints (expected <= {want})"
