"""Plan-shape regression tests — the scale-design properties the engine
depends on, asserted against explain() output so they can't silently rot:

- predicate pushdown + column pruning reach the parquet scans;
- dimension joins broadcast;
- top-k compiles to TakeOrderedAndProject (no global sort);
- no CollectLimit/driver funnels in operator paths.
"""

from __future__ import annotations

import pytest

from filesql_spark.queries import all_queries

SF = "/root/testdata/sf0.001"


def _formatted(df) -> str:
    return df._jdf.queryExecution().explainString(
        df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )


@pytest.fixture(scope="module")
def qs():
    return all_queries()


def test_q1_pushdown_and_pruning(spark, qs):
    plan = _formatted(qs["q1_pricing_summary"](spark, SF))
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # column pruning: only the 7 needed columns of 11 reach the scan
    schema_line = next(l for l in plan.splitlines() if "ReadSchema" in l)
    assert "l_orderkey" not in schema_line and "l_quantity" in schema_line


def test_filter_predicates_all_pushed(spark, qs):
    plan = _formatted(qs["filter_predicates"](spark, SF))
    pushed = next(l for l in plan.splitlines() if "PushedFilters" in l)
    for frag in ["GreaterThanOrEqual(p_size,10)", "In(p_brand", "StringContains"]:
        assert frag in pushed, f"{frag} not pushed: {pushed}"


def test_dim_joins_broadcast(spark, qs):
    plan = _formatted(qs["join_multiway_inner"](spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan  # dims must never shuffle the fact side


def test_topk_no_global_sort(spark, qs):
    plan = _formatted(qs["topk_orders"](spark, SF))
    assert "TakeOrderedAndProject" in plan
    assert "Exchange rangepartitioning" not in plan


def test_scan_codegen(spark, qs):
    # scalar-function pipeline stays inside whole-stage codegen
    # (the '*(n)' node prefix in simple mode marks codegen stages)
    df = qs["string_functions"](spark, SF)
    plan = df._jdf.queryExecution().explainString(
        df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "simple"
        )
    )
    assert "*(1) Project" in plan


def test_ngram_jaccard_prefix_equijoin(spark, qs):
    """Candidate generation must be an equi-join on prefix shingles
    (PPJoin), not an all-pairs block join: the only theta condition
    allowed is the doc_a < doc_b dedup inequality, and the old
    (lang, length-bucket) blocking keys must be gone from the plan."""
    plan = _formatted(qs["dedup_ngram_jaccard"](spark, SF))
    assert "lang" not in plan and "bucket" not in plan
    # the prefix self-join is hash-partitioned on the shingle key
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan or "BroadcastHashJoin" in plan


def test_embedding_dup_band_equijoin(spark, qs):
    """Pairs come from a (band, cell) equi-join on the hyperplane-LSH
    signature — bounded cells — never from raw label blocking."""
    plan = _formatted(qs["dedup_embedding_cosine"](spark, SF))
    assert "label" not in plan
    assert "band" in plan and "cell" in plan


def test_lsh_scale_knob_bounds_cell_population():
    """The log-n width knob must keep expected LSH cell population bounded:
    for every corpus size below the clamp, 2^bits * target >= n (expected
    rows per cell <= target), and bits never over-shrinks the cells by more
    than one doubling. Monotone in n, exact integer arithmetic."""
    from filesql_spark.pipeline.constants import (
        ANN_BAND_TARGET_ROWS,
        EMB_TARGET_CELL_ROWS,
        ann_band_bits,
        emb_band_bits,
    )

    for fn, target, lo, hi in [
        (emb_band_bits, EMB_TARGET_CELL_ROWS, 4, 16),
        (ann_band_bits, ANN_BAND_TARGET_ROWS, 4, 16),
    ]:
        prev = 0
        for n in [1, 10, 100, 1_000, 10_000, 100_000, 1_000_000, 10_000_000, 10**9]:
            bits = fn(n)
            assert lo <= bits <= hi
            assert bits >= prev, "bits must be monotone in corpus size"
            prev = bits
            if bits < hi:
                assert (1 << bits) * target >= n, f"cells under-provisioned at n={n}"
            if bits > lo:
                assert (1 << (bits - 1)) * target < n, f"cells over-provisioned at n={n}"


def test_ann_band_structure_fits_signature():
    """Bands are disjoint plane groups: width x count never exceeds the
    32-plane signature, and OR-amplification keeps >= 2 bands at any n."""
    from filesql_spark.pipeline.constants import ann_band_bits, ann_n_bands

    for n in [1, 500, 2_000, 100_000, 10**6, 10**9]:
        bits = ann_band_bits(n)
        nb = ann_n_bands(bits)
        assert bits * nb <= 32
        assert nb >= 2


def test_embedding_cells_scale_with_corpus(spark):
    """A 10x corpus must get wider band masks (more, equally-populated
    cells): the plan's mask literal is (2^bits - 1) with bits from
    emb_band_bits(n), not a fixed band structure (VERDICT r2 #2)."""
    import numpy as np
    import pandas as pd

    from filesql_spark.pipeline.dedup import embedding_dup_pairs

    rng = np.random.default_rng(7)

    def mk(n):
        return spark.createDataFrame(
            pd.DataFrame(
                {
                    "vec_id": range(n),
                    "embedding": [
                        rng.standard_normal(64).astype("float32").tolist()
                        for _ in range(n)
                    ],
                }
            )
        )

    small = _formatted(embedding_dup_pairs(mk(600)))    # bits=5 → mask 31
    big = _formatted(embedding_dup_pairs(mk(6000)))     # bits=8 → mask 255
    assert "& 31)" in small and "& 255)" not in small
    assert "& 255)" in big and "& 31)" not in big


def test_asof_join_is_union_merge_not_theta(spark, qs):
    """The as-of join must compile to union + one hash shuffle + running
    window — NEVER a theta join (BroadcastNestedLoop/Cartesian), whose
    (event x earlier-order) pair blow-up is quadratic per key at scale."""
    plan = _formatted(qs["asof_join_latest_order"](spark, SF))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "Join" not in plan  # no join operator at all: union-merge
    assert plan.count("Exchange") <= 2  # one shuffle (+AQE read), not N


def test_sessionize_single_shuffle(spark, qs):
    """Native session_window agg: one hash shuffle on the session key."""
    plan = _formatted(qs["events_sessionize"](spark, SF))
    assert "session_window" in plan
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan


def test_ivf_trains_on_bounded_sample(spark):
    """Above IVF_TRAIN_TARGET_ROWS the quantizer must train on the
    deterministic modulo sample (vec_id % 2^tbits == 0), keeping Lloyd
    cost bounded as the corpus grows; below it, no sampling. Observed
    behaviorally through the seed centroids (the per-iteration
    localCheckpoint truncates the lineage a plan assertion would read):
    at sample factor 2 every seed cid is an even sampled id."""
    import numpy as np
    import pandas as pd

    from pyspark.sql import functions as F
    from filesql_spark.pipeline.constants import scaled_bits
    from filesql_spark.pipeline.dedup import with_quantized
    from filesql_spark.pipeline.similarity import (
        IVF_MAX_TRAIN_BITS,
        IVF_TRAIN_TARGET_ROWS,
        ivf_centroids,
    )

    assert scaled_bits(600, 0, IVF_MAX_TRAIN_BITS, IVF_TRAIN_TARGET_ROWS) == 0
    m = 1 << scaled_bits(5000, 0, IVF_MAX_TRAIN_BITS, IVF_TRAIN_TARGET_ROWS)
    assert m == 2

    rng = np.random.default_rng(3)
    big = spark.createDataFrame(
        pd.DataFrame(
            {
                "vec_id": range(5000),
                "embedding": [
                    rng.standard_normal(64).astype("float32").tolist()
                    for _ in range(5000)
                ],
            }
        )
    )
    pts = with_quantized(big).select("vec_id", "qv", "nrm")
    train = pts.filter(F.col("vec_id") % m == 0)
    seeds = ivf_centroids(train, 16, iters=0, sample_factor=m)
    cids = [r.cid for r in seeds.select("cid").collect()]
    assert len(cids) == 16 and all(c % m == 0 for c in cids)


def test_ivf_serve_plan_has_no_training(spark):
    """Train-once/serve-many: the plan of a query served from a pre-built
    IvfIndex must contain ZERO Lloyd machinery — no k-means aggregates, no
    training-sample filter, only the probe + cell equi-join. (The fused
    path re-plans training; the index path must not.)"""
    from pyspark.sql import functions as F

    from filesql_spark.queries import load_table
    from filesql_spark.pipeline.similarity import ivf_index, ivf_topk

    emb = load_table(spark, SF, "embeddings")
    idx = ivf_index(emb)
    plan = _formatted(ivf_topk(idx, emb.filter(F.col("vec_id") < 8), k=5))
    # the index frames surface as lineage-truncated scans, not computations
    assert "ExistingRDD" in plan or "LocalTableScan" in plan
    # no training-sample modulo filter and no per-dimension mean aggregates
    assert "% " not in plan.replace("(0 + 1) %", "")  # vec_id % m filter
    assert plan.count("HashAggregate") <= 2  # top-k only, no Lloyd sums
    assert "CartesianProduct" not in plan
    # both index frames must be MATERIALIZED scans: a createDataFrame
    # cents relation would execute as applySchemaToPythonRDD — a
    # driver-Python serialization job re-run on every serve (r18)
    assert "applySchemaToPythonRDD" not in plan
    assert "localCheckpoint" in _formatted(idx.cents)


def test_lsh_multiband_dedup_is_partial_agg(spark):
    """The multi-band candidate dedupe must collapse duplicate
    (query, candidate) pairs map-side (partial HashAggregate before the
    exchange), and candidates must come from a band/cell EQUI-join —
    never a nested-loop over the corpus."""
    from pyspark.sql import functions as F

    from filesql_spark.queries import load_table
    from filesql_spark.pipeline.similarity import lsh_topk

    emb = load_table(spark, SF, "embeddings")
    plan = _formatted(lsh_topk(emb, emb.filter(F.col("vec_id") < 8), k=5))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "band" in plan and "cell" in plan
    # partial_max(cos) before the shuffle = map-side dedupe
    assert "partial_max" in plan


def test_rarity_vocab_join_broadcasts(spark, qs):
    """text_rarity_score's token→vocab join must broadcast the vocab side
    (hot tokens like 'the' would otherwise skew a shuffle join)."""
    plan = _formatted(qs["text_rarity_score"](spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_incremental_dedup_no_cartesian(spark, qs):
    """dedup_incremental: band candidates and both verify joins are
    equi-joins; nothing may degenerate to a cartesian/BNLJ pair blow-up."""
    plan = _formatted(qs["dedup_incremental"](spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_hll_partial_aggregation(spark, qs):
    """HLL registers must partial-aggregate map-side: a HashAggregate
    runs before each Exchange, so at most m rows per group per task hit
    the wire — the sketch's whole point."""
    from filesql_spark.pipeline.sketch import hll_registers
    from filesql_spark.queries import load_table

    plan = _formatted(
        hll_registers(load_table(spark, SF, "events"), ["event_type"], "user_id")
    )
    assert "HashAggregate" in plan
    # partial_max marks the map-side combine of the register MAX, and the
    # one exchange partitions on (group, bucket)
    assert "partial_max" in plan
    assert "hashpartitioning(event_type" in plan


def test_pack_sequences_single_task_window_is_bucket_totals_only(spark, qs):
    """The only single-partition window in the prefix-sum plan must be
    over the ≤256-row bucket-total table, never the corpus: the corpus
    window is partitioned by bkt."""
    plan = _formatted(qs["pipeline_pack_sequences"](spark, SF))
    # corpus-side running sum partitioned by bkt
    assert "Window" in plan
    assert "hashpartitioning(bkt" in plan


def test_bucketed_tables_join_without_shuffle(spark):
    """Bucketing both sides of a recurring join key eliminates the
    shuffle entirely — the co-located-join lever for repeated 100-TB
    joins. Write documents bucketed by doc_id twice, join, and assert
    the plan has a SortMergeJoin with NO Exchange feeding it."""
    from filesql_spark.queries import load_table

    spark.sql("DROP TABLE IF EXISTS _bkt_a")
    spark.sql("DROP TABLE IF EXISTS _bkt_b")
    d = load_table(spark, SF, "documents")
    d.select("doc_id", "n_chars").write.bucketBy(8, "doc_id").sortBy(
        "doc_id"
    ).mode("overwrite").saveAsTable("_bkt_a")
    d.select("doc_id", "lang").write.bucketBy(8, "doc_id").sortBy(
        "doc_id"
    ).mode("overwrite").saveAsTable("_bkt_b")
    try:
        joined = spark.table("_bkt_a").join(spark.table("_bkt_b"), "doc_id")
        plan = _formatted(joined)
        assert "SortMergeJoin" in plan or "BroadcastHashJoin" in plan
        # the decisive check: no shuffle exchange anywhere in the plan
        assert "Exchange hashpartitioning" not in plan, plan[:2000]
    finally:
        spark.sql("DROP TABLE IF EXISTS _bkt_a")
        spark.sql("DROP TABLE IF EXISTS _bkt_b")


def test_rfm_sketch_has_no_window(spark, qs):
    """The scale-out RFM variant must contain NO window operator at all
    (the NTILE twin's global windows are its single-task bottleneck at
    10⁹ customers): thresholds come from bounded histogram self-joins
    and broadcast back onto the per-customer table."""
    plan = _formatted(qs["customers_rfm_sketch"](spark, SF))
    assert "Window" not in plan
    assert "BroadcastExchange" in plan  # the 1-row nine-threshold frame


def test_bloom_production_path_is_pure_filter(spark):
    """The production bloom path (bloom_semi_join, filter-as-predicate)
    must be ONE lazy map-side plan: two broadcast word-lookups + bit
    tests, NO shuffle of the fact side, no second fact scan (the counts
    summary in bloom_semi_join_counts is the audit query, not this) —
    and it must pass a superset of the exact semi-join (no false
    negatives)."""
    from pyspark.sql import functions as F

    from filesql_spark.pipeline.sketch import bloom_semi_join
    from filesql_spark.queries import load_table

    dim = load_table(spark, SF, "customer").where("c_custkey % 7 = 0")
    fact = load_table(spark, SF, "orders")
    cand = bloom_semi_join(fact, "o_custkey", dim, "c_custkey", n_keys=200)
    import re

    plan = _formatted(cand)
    # formatted mode lists each node twice (tree + numbered detail);
    # count the numbered headers
    assert len(re.findall(r"\(\d+\) BroadcastHashJoin", plan)) == 2
    # fact side is never shuffled: every hash-shuffle in the plan is the
    # kilobyte bloom build's word aggregation, none keys on the fact
    for m in re.finditer(r"hashpartitioning\((\w+)", plan):
        assert m.group(1).startswith(("word", "__w")), plan[:2000]
    # fact scanned once, dim twice (the two word-table builds)
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 3
    exact = fact.join(
        dim.select(F.col("c_custkey").alias("o_custkey")), "o_custkey", "left_semi"
    )
    cols = fact.columns  # the semi-join hoists the key column first
    assert exact.select(*cols).exceptAll(cand.select(*cols)).count() == 0


def test_q6_pushdown_partial_agg(spark, qs):
    """Q6 is the pushdown showcase: range + quantity predicates at the
    scan, only the 4 referenced lineitem columns read, and a partial →
    final ungrouped aggregate (no data-row shuffle)."""
    plan = _formatted(qs["q6_forecast_revenue"](spark, SF))
    pushed = next(l for l in plan.splitlines() if "PushedFilters" in l)
    assert "GreaterThanOrEqual(l_shipdate" in pushed
    assert "LessThan(l_shipdate" in pushed
    assert "LessThan(l_quantity,24.0)" in pushed
    schema_line = next(l for l in plan.splitlines() if "ReadSchema" in l)
    for col in ["l_shipdate", "l_quantity", "l_extendedprice", "l_discount"]:
        assert col in schema_line
    assert "l_orderkey" not in schema_line and "l_tax" not in schema_line
    assert "partial" in plan.lower()  # map-side partial aggregation


def test_kmeans_assignment_plan_no_join(spark, qs):
    """k-means assignment is a literal-centroid map: the executed plan of
    the final assignment must contain no join operator at all."""
    plan = _formatted(qs["embedding_kmeans"](spark, SF))
    assert "Join" not in plan


def test_mixture_resample_corpus_not_shuffled(spark, qs):
    """The corpus side of mixture_resample joins the broadcast threshold
    table without an Exchange on the document stream."""
    plan = _formatted(qs["pipeline_mixture_resample"](spark, SF))
    assert "BroadcastHashJoin" in plan


def test_chunking_zero_shuffle(spark, qs):
    plan = _formatted(qs["text_chunk_stride"](spark, SF))
    assert "Exchange" not in plan  # pure per-row projection at scan speed


def test_q10_pushdown_broadcast_takeordered(spark, qs):
    plan = _formatted(qs["q10_returned_items"](spark, SF))
    assert "TakeOrderedAndProject" in plan
    assert "EqualTo(l_returnflag,R)" in plan  # filter reaches the lineitem scan
    assert "GreaterThanOrEqual(o_orderdate" in plan  # date prunes the orders scan
    assert "BroadcastHashJoin" in plan


def test_pq_encode_zero_shuffle(spark):
    from filesql_spark.pipeline.similarity import pq_encode, pq_fit
    from filesql_spark.queries import load_table

    emb = load_table(spark, SF, "embeddings")
    books = pq_fit(emb)
    plan = _formatted(pq_encode(emb, books))
    assert "Exchange" not in plan  # literal-codebook map: encoding at scan speed


def _n_scans(plan: str) -> int:
    """Parquet scans as numbered plan nodes (formatted mode lists each
    node twice — tree + detail — and cached subplans inline more text,
    so a raw substring count overstates)."""
    import re

    return len(re.findall(r"\(\d+\) Scan parquet", plan))


def test_skew_report_single_scan_no_global_sort(spark, qs):
    plan = _formatted(qs["events_skew_report"](spark, SF))
    assert "TakeOrderedAndProject" in plan  # top-k, not a global sort
    # the persisted counts relation feeds both total and top-k: the raw
    # table is scanned once (the second branch reads the cache)
    assert _n_scans(plan) <= 1


def test_profiler_split_aggregation_shape(spark, qs):
    plan = _formatted(qs["profile_orders_stats"](spark, SF))
    # split-aggregation design: the multi-distinct Expand runs in its own
    # HashAggregate chain, never mixed into the plain-stats aggregate
    # (the mixed form degrades to SortAggregate over the expanded rows)
    assert "Expand" in plan
    assert _n_scans(plan) == 2  # one per aggregation half
    # the distinct half (the Expand side) must be hash-aggregated
    assert "HashAggregate" in plan


def test_semantic_decon_bench_side_broadcast(spark, qs):
    plan = _formatted(qs["pipeline_semantic_decontaminate"](spark, SF))
    # the candidate join against bench cells must be broadcast (corpus
    # side never shuffles for the probe)
    assert "BroadcastHashJoin" in plan


# ---------------------------------------------------------- round-7c


def test_q14_pushdown_broadcast_part(spark, qs):
    plan = _formatted(qs["q14_promo_revenue"](spark, SF))
    # the one-month range reaches the lineitem scan; part broadcasts
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l]
    assert any("GreaterThanOrEqual(l_shipdate" in l for l in pushed)
    assert any("LessThan(l_shipdate" in l for l in pushed)
    assert "BroadcastHashJoin" in plan
    # column pruning: the lineitem scan reads no join-irrelevant columns
    sch = [l for l in plan.splitlines() if "ReadSchema" in l and "l_partkey" in l]
    assert sch and all("l_orderkey" not in l for l in sch)


def test_q18_single_lineitem_scan(spark, qs):
    plan = _formatted(qs["q18_large_orders"](spark, SF))
    # the aggregate-once rewrite scans lineitem ONCE (the IN-subquery
    # phrasing would scan it twice) and top-100 is a TakeOrdered
    assert plan.count("lineitem.parquet") == 1, plan
    assert "TakeOrderedAndProject" in plan


def test_cumulative_distinct_window_over_days_only(spark, qs):
    plan = _formatted(qs["events_cumulative_distinct"](spark, SF))
    # the aggregates (user_id, then day) run BEFORE the window: the
    # single-task running-sum window's input is the 2-column per-DAY
    # relation (calendar-bounded), never the raw events
    win_input = next(
        l2 for l1, l2 in zip(plan.splitlines(), plan.splitlines()[1:])
        if l1.endswith("Window") and l2.startswith("Input")
    )
    assert win_input.startswith("Input [2]:"), win_input
    assert "new_users" in win_input


def test_token_entropy_zero_shuffle(spark, qs):
    plan = _formatted(qs["text_token_entropy"](spark, SF))
    assert "Exchange" not in plan  # pure per-row array expressions


def test_standardize_no_explode_broadcast_moments(spark):
    from filesql_spark.pipeline.similarity import standardize
    from filesql_spark.queries import load_table

    z = standardize(load_table(spark, SF, "embeddings"), dim=64)
    plan = _formatted(z)
    assert "Generate" not in plan  # moments via sums, not explode
    assert "BroadcastNestedLoopJoin" in plan
    # ONE aggregate pair (partial+final) computes all 129 moments
    # (formatted mode lists each node twice — count detail sections only)
    import re

    n_aggs = len(re.findall(r"^\(\d+\) \w*HashAggregate", plan, re.M))
    assert n_aggs == 2, plan


def test_knn_label_corpus_never_shuffled(spark, qs):
    plan = _formatted(qs["embedding_knn_label"](spark, SF))
    # the corpus-sized side joins only against broadcast relations; every
    # Exchange in the plan is over the (q·k)-row neighbor/vote relation,
    # which follows the q_id-keyed window — assert no sort-merge join
    assert "SortMergeJoin" not in plan
    assert "BroadcastExchange" in plan


def test_q7_q8_single_fact_shuffle(spark, qs):
    # every dimension broadcasts: the only fact-fact join is
    # orders<->lineitem; no dimension may fall back to sort-merge
    for name in ["q7_nation_volume", "q8_market_share"]:
        plan = _formatted(qs[name](spark, SF))
        assert plan.count("BroadcastHashJoin") >= 5, name
        assert plan.count("SortMergeJoin") <= 1, name
        pushed = [l for l in plan.splitlines() if "PushedFilters" in l]
        date_col = "l_shipdate" if name == "q7_nation_volume" else "o_orderdate"
        assert any(f"GreaterThanOrEqual({date_col}" in l for l in pushed), name


def test_features_user_wide_single_exchange(spark, qs):
    # one scan, one data-sized exchange: the LAG window's user_id
    # shuffle; the all-features groupBy reuses it in the same stage
    # (the one-row max-ts anchor broadcasts, its exchange is 1-row)
    import re

    plan = _formatted(qs["features_user_wide"](spark, SF))
    assert plan.count("events.parquet") == 2  # fact scan + 1-row anchor
    hash_ex = re.findall(r"^\(\d+\) Exchange", plan, re.M)
    # exchanges: one hashpartitioning(user_id) + the anchor's
    # SinglePartition one-row exchange — nothing else
    assert len(hash_ex) <= 2, plan
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan


def test_diversity_serve_plan_no_lloyd(spark, qs):
    """Fit-once/serve-many: the served diversity-sample plan is a
    literal-centroid assignment + one per-cluster window — no join, no
    Lloyd per-dimension mean aggregates, exactly one data-sized
    exchange (the window's cluster shuffle)."""
    import re

    plan = _formatted(qs["pipeline_diversity_sample"](spark, SF))
    assert "Join" not in plan
    assert "HashAggregate" not in plan  # no centroid-update sums
    hash_ex = re.findall(r"^\(\d+\) Exchange", plan, re.M)
    assert len(hash_ex) == 1, plan


def test_cluster_reps_serve_plan_no_cc_iterations(spark, qs):
    """Standing-components serve: electing representatives against the
    checkpointed (node, component) table is ONE parquet scan of docs,
    the label join, and the argmax groupBy — the CC loop's iterative
    self-joins and the MinHash signature machinery must be absent."""
    plan = _formatted(qs["dedup_cluster_representatives"](spark, SF))
    # the standing table surfaces as a lineage-truncated scan
    assert "ExistingRDD" in plan or "LocalTableScan" in plan
    assert _n_scans(plan) <= 1, plan  # documents only, once (0 if cached)
    assert "posexplode" not in plan and "md5" not in plan  # no minhash


def test_stage_metrics_combined_base_counts(spark, qs):
    """The funnel's total+gate counts come from ONE aggregation over the
    base scan (conditional SUM), and exact_kept is cached: exactly three
    parquet scan nodes (counts agg + the two gated consumers inside
    exact-dedup), with the downstream counts reading the cache."""
    # hermetic: earlier tests' persisted frames substitute into this
    # plan via the cache manager and change the scan-node census (a
    # cached subtree's stored plan inlines ITS scans into formatted
    # output) — drop them so the assertion sees the cold-session shape
    spark.catalog.clearCache()
    plan = _formatted(qs["pipeline_stage_metrics"](spark, SF))
    assert _n_scans(plan) == 3, plan
    assert "InMemoryTableScan" in plan


def test_curate_full_contamination_cached(spark, qs):
    """The corpus-wide 13-gram join runs ONCE: the contaminated-doc list
    is persisted, so both exact-dedup consumers of the decontaminated
    prefix read the cache instead of replaying the gram aggregation."""
    plan = _formatted(qs["pipeline_curate_full"](spark, SF))
    assert "InMemoryTableScan" in plan


def test_bot_detection_single_exchange(spark, qs):
    """One user-keyed shuffle serves both the RANGE-frame window and the
    groupBy — no second data-sized exchange, no join."""
    import re

    plan = _formatted(qs["events_bot_detection"](spark, SF))
    hash_ex = re.findall(r"^\(\d+\) Exchange", plan, re.M)
    assert len(hash_ex) == 1, plan
    assert "Join" not in plan


def test_kmv_and_hazard_checkpoint_fanout(spark, qs):
    """Multi-branch consumers read a checkpointed small table instead of
    replaying the data-sized pipeline per branch: the plan contains the
    lineage-truncated scan, and the events parquet appears in at most
    the branch-independent scans (0 for kmv — fully behind the
    checkpoint)."""
    plan = _formatted(qs["sketch_kmv_theta"](spark, SF))
    assert "ExistingRDD" in plan
    assert _n_scans(plan) == 0, plan  # all six branches behind the checkpoint
    plan = _formatted(qs["events_hazard_curve"](spark, SF))
    assert "ExistingRDD" in plan


def test_asof_tolerance_is_union_merge_not_theta(spark, qs):
    """The tolerance-bounded as-of keeps the base operator's shape: no
    join at all (union-merge + running window), tolerance as a pure
    column compare."""
    plan = _formatted(qs["asof_join_tolerance"](spark, SF))
    assert "Join" not in plan
    assert "CartesianProduct" not in plan


def test_open_interval_sweep_no_day_explosion(spark, qs):
    """The sweep never joins days against intervals: one orders-lineitem
    join for interval ends, then delta aggregation + one window — no
    nested-loop/cartesian day expansion."""
    plan = _formatted(qs["orders_open_interval_count"](spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("SortMergeJoin") + plan.count("ShuffledHashJoin") <= 1


def test_containment_prefix_equijoin_no_cartesian(spark, qs):
    """Containment candidates come from the SSJoin rare-prefix
    inverted-index equi-join on the shingle key — never a cartesian or
    nested-loop block join (the asymmetric threshold cannot be a join
    key, so a lazy implementation degenerates to all-pairs)."""
    plan = _formatted(qs["dedup_containment"](spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "shingle" in plan  # the equi-join key is the shingle itself


def test_groups_frame_single_partitioning(spark, qs):
    """The GROUPS→RANGE reduction runs both window passes (dense_rank,
    then the ±1-group sum) over ONE supplier hash partitioning — adding
    a second exchange between the passes would double the shuffle at
    scale for no semantic gain."""
    import re

    plan = _formatted(qs["window_groups_frame"](spark, SF))
    n_exchanges = len(re.findall(r"\(\d+\) Exchange", plan))
    assert n_exchanges == 1, plan[:2000]
    assert len(re.findall(r"\(\d+\) Window", plan)) == 2


def test_json_each_lateral_is_generate_not_join(spark, tmp_path):
    """The comma-correlated json_each TVF compiles to a Generate
    (per-row lateral expansion) — never a join, never a cartesian
    product — and the standalone form is a plain Project over the UDF."""
    import filesql_spark as fs

    (tmp_path / "j.csv").write_text('id,doc\n1,"[1,2,3]"\n')
    eng = fs.open(str(tmp_path / "j.csv"), spark=spark)
    try:
        df = eng.query(
            "SELECT j.id, je.value FROM j, json_each(j.doc) AS je"
        )
        plan = _formatted(df)
        assert "Generate" in plan
        assert "CartesianProduct" not in plan and "Cross" not in plan
        assert "Join" not in plan.replace("LATERAL", "")
        df2 = eng.query("SELECT value FROM json_each('[1,2]')")
        plan2 = _formatted(df2)
        assert "CartesianProduct" not in plan2
    finally:
        eng.close()


def test_window_filter_rewrite_is_single_window(spark, tmp_path):
    """`agg FILTER (WHERE p) OVER (PARTITION BY g)` reduces to one
    Window exec over the CASE projection — exactly one partition-key
    exchange, no join, no second window (r11 dialect pass)."""
    import re as _re

    import filesql_spark as fs

    (tmp_path / "w.csv").write_text("id,g,a\n1,1,10\n2,1,-5\n3,2,7\n")
    eng = fs.open(str(tmp_path / "w.csv"), spark=spark)
    try:
        df = eng.query(
            "SELECT id, sum(a) FILTER (WHERE a > 0) OVER (PARTITION BY g) "
            "AS s FROM w"
        )
        plan = _formatted(df)
        assert len(_re.findall(r"\(\d+\) Window", plan)) == 1, plan[:2000]
        assert len(_re.findall(r"\(\d+\) Exchange", plan)) == 1, plan[:2000]
        assert "Join" not in plan
    finally:
        eng.close()


def test_view_plan_stays_flat_under_repeated_updates(spark, tmp_path):
    """Every table version is an in-memory snapshot, so a view that
    filters on a column rewritten by k UPDATEs plans over one scan of
    the latest version. Before snapshots, each UPDATE stacked a CASE
    projection and the pushed-down filter grew with k."""
    import filesql_spark as fs

    (tmp_path / "hot.csv").write_text(
        "id,v\n" + "".join(f"{i},{i}\n" for i in range(20))
    )
    eng = fs.open(str(tmp_path / "hot.csv"), spark=spark)
    try:
        eng.execute("CREATE VIEW hot_v AS SELECT * FROM hot WHERE v > 5")

        def nodes() -> int:
            qe = eng.query("SELECT * FROM hot_v")._jdf.queryExecution()
            return len(qe.optimizedPlan().toString().splitlines())

        sizes = []
        for _ in range(12):
            eng.execute("UPDATE hot SET v = v + 2 WHERE v % 2 = 0")
            sizes.append(nodes())
        assert sizes[-1] == sizes[0], sizes
        # evens end at 24..42, odds stay 1..19: 10 + 7 rows exceed 5
        assert eng.query("SELECT count(*) AS n FROM hot_v").collect()[0].n == 17
    finally:
        eng.close()


def test_loaded_csv_read_from_memory_after_first_read(spark, tmp_path):
    """After a loaded CSV table's first read, queries scan the table's
    snapshot in executor memory, not the file."""
    import filesql_spark as fs

    (tmp_path / "mem.csv").write_text("id,v\n1,10\n2,20\n3,30\n")
    eng = fs.open(str(tmp_path / "mem.csv"), spark=spark)
    try:
        assert eng.query("SELECT sum(v) AS s FROM mem").collect()[0].s == 60
        qe = eng.query("SELECT id FROM mem WHERE v > 10")._jdf.queryExecution()
        assert "Relation" not in qe.optimizedPlan().toString()
        assert "FileScan" not in qe.executedPlan().toString()
        assert "ExistingRDD" in qe.executedPlan().toString()
    finally:
        eng.close()
