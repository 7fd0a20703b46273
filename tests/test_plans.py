"""Physical-plan guardrails: pin the intended 100 TB strategy, not just
the answer. A regression here means a query silently degraded to a plan
that works at sf0.01 but not at scale."""

from __future__ import annotations

import pytest

from kinesyslog_spark.plans.checks import facts, unpartitioned_window_count
from kinesyslog_spark.queries import QUERIES


def test_q01_scan_pushdown_and_pruning(spark, sf_dir):
    f = facts(QUERIES["q01_scan_filter"](spark, sf_dir))
    pushed = f.pushed_filters("lineitem")
    assert pushed and any("l_shipdate" in p for p in pushed), (
        "shipdate range filter must reach the parquet scan"
    )
    cols = f.scan_columns("lineitem")
    assert cols and len(cols) <= 6, f"column pruning lost: scan reads {cols}"


def test_q04_small_dims_broadcast(spark, sf_dir):
    f = facts(QUERIES["q04_customers_per_region"](spark, sf_dir))
    assert f.broadcast_join_count >= 2, "region/nation joins must broadcast"


def test_q03_join_strategy(spark, sf_dir):
    f = facts(QUERIES["q03_shipping_priority"](spark, sf_dir))
    # 3-way join: at least the customer-side should not force a cartesian;
    # any mix of broadcast/shuffle joins is fine, cartesian is not.
    assert "CartesianProduct" not in f.text


def test_q02_hash_aggregate(spark, sf_dir):
    f = facts(QUERIES["q02_pricing_summary"](spark, sf_dir))
    assert f.sort_aggregate_count == 0, "pricing summary must hash-aggregate"
    assert "HashAggregate" in f.text


def test_q26_minhash_hash_aggregate(spark, sf_dir):
    # The integer-minhash design exists precisely to keep MIN() hashable.
    f = facts(QUERIES["q26_minhash_lsh"](spark, sf_dir))
    assert f.sort_aggregate_count == 0, (
        "minhash aggregation fell back to SortAggregate (string buffer?)"
    )


def test_q24_parse_all_jvm_side(spark, sf_dir):
    # (AQE's formatted plan hides WholeStageCodegen markers pre-execution,
    # so the assertable fact is: zero Python evaluation nodes and exactly
    # one shuffle — the final ORDER BY.)
    f = facts(QUERIES["q24_relay_parse"](spark, sf_dir))
    assert f.python_eval_count == 0, "P2-P8 must not use Python UDFs"
    assert f.exchange_count <= 1, f"parse pipeline must be shuffle-free:\n{f.text[:500]}"


def test_q21_probe_side_broadcast(spark, sf_dir):
    f = facts(QUERIES["q21_cosine_topk"](spark, sf_dir))
    assert f.broadcast_any_count >= 1, "probe set must broadcast into the scan"


def test_q52_decorrelated_broadcast(spark, sf_dir):
    # The correlated-subquery shape must run as aggregate + broadcast
    # join, never a per-row subquery or a shuffled join of part-vs-stats.
    f = facts(QUERIES["q52_above_brand_avg"](spark, sf_dir))
    assert f.broadcast_join_count >= 1, "brand_stats must broadcast"
    assert "CartesianProduct" not in f.text


def test_q53_wide_join_strategy(spark, sf_dir):
    f = facts(QUERIES["q53_local_supplier_volume"](spark, sf_dir))
    assert f.broadcast_join_count >= 2, "nation/region must broadcast"
    assert "CartesianProduct" not in f.text
    pushed = f.pushed_filters("orders")
    assert pushed and any("o_orderdate" in p for p in pushed), (
        "orderdate range must reach the orders scan"
    )


def test_q54_boilerplate_broadcast_and_hash_agg(spark, sf_dir):
    f = facts(QUERIES["q54_boilerplate_passages"](spark, sf_dir))
    assert f.broadcast_any_count >= 1, "boilerplate gram set must broadcast"
    assert f.python_eval_count == 0


def test_q56_packing_no_global_window(spark, sf_dir):
    # Packing must window per source (parallel), never a single global
    # partition: a global window shows as Exchange SinglePartition.
    f = facts(QUERIES["q56_sequence_packing"](spark, sf_dir))
    assert "SinglePartition" not in f.text, "packing degraded to one task"


def test_q42_eval_grams_broadcast(spark, sf_dir):
    # The eval n-gram set must broadcast; a shuffle of the corpus-side
    # gram stream is exactly what decontamination at 100 TB cannot afford.
    f = facts(QUERIES["q42_decontaminate"](spark, sf_dir))
    assert f.broadcast_join_count >= 1, "eval gram set must broadcast"
    assert f.python_eval_count == 0, "decontamination must stay JVM-side"


def test_q43_repetition_jvm_side(spark, sf_dir):
    f = facts(QUERIES["q43_repetition_filter"](spark, sf_dir))
    assert f.python_eval_count == 0, "repetition metrics must stay JVM-side"
    assert "CartesianProduct" not in f.text


def test_q44_sample_map_only(spark, sf_dir):
    # Deterministic sampling must stay map-side: hash + filter, with the
    # only exchange being the final presentation ORDER BY.
    f = facts(QUERIES["q44_stratified_sample"](spark, sf_dir))
    assert f.python_eval_count == 0
    assert f.exchange_count <= 1, f"sampling must be shuffle-free:\n{f.text[:500]}"


def test_q45_tfidf_df_broadcast(spark, sf_dir):
    # The vocabulary-sized document-frequency table and the 1-row N both
    # broadcast; the corpus-side tf table is never reshuffled for scoring.
    f = facts(QUERIES["q45_tfidf_top_terms"](spark, sf_dir))
    assert f.broadcast_any_count >= 2, "df table and N must broadcast"
    assert f.python_eval_count == 0


def test_q46_probe_sides_broadcast(spark, sf_dir):
    # Both ranking passes broadcast their 10-row probe side; the corpus
    # is scanned, never reshuffled, for either ranking.
    f = facts(QUERIES["q46_quantize_recall"](spark, sf_dir))
    assert f.broadcast_any_count >= 2, "probe sets must broadcast"
    assert f.python_eval_count == 0


def test_q64_all_filters_pushed(spark, sf_dir):
    # TPC-H Q6 is THE pushdown query: all three range predicates must
    # reach the parquet scan, and the plan needs no shuffle beyond the
    # single-row final aggregate exchange.
    f = facts(QUERIES["q64_forecast_revenue"](spark, sf_dir))
    pushed = " ".join(f.pushed_filters("lineitem") or [])
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in pushed, f"{col} filter not pushed: {pushed}"
    assert f.exchange_count <= 1


def test_q68_bm25_broadcast_and_topk(spark, sf_dir):
    # idf (vocabulary-sized) and the corpus stats broadcast into map-side
    # scoring; top-k is TakeOrderedAndProject (per-partition top-k, 20-row
    # driver merge), never a global sort. The dl join is deliberately
    # unforced: AQE broadcasts locally, SMJ on doc_id at scale.
    f = facts(QUERIES["q68_bm25_topk"](spark, sf_dir))
    assert f.broadcast_any_count >= 2, "idf + stats must broadcast"
    assert "TakeOrderedAndProject" in f.text, "top-k must not global-sort"
    assert f.python_eval_count == 0


def test_q69_entropy_jvm_side(spark, sf_dir):
    # Map-side-combining aggregates on keys the tokenizer co-locates;
    # all arithmetic stays in whole-stage codegen.
    f = facts(QUERIES["q69_entropy_filter"](spark, sf_dir))
    assert f.python_eval_count == 0


def test_q70_sketch_validation_broadcast(spark, sf_dir):
    # The 3-row estimate table broadcasts into the validation rescan;
    # no sort of the fact table anywhere in the plan.
    f = facts(QUERIES["q70_approx_quantile_sketch"](spark, sf_dir))
    assert f.broadcast_any_count >= 1, "estimate table must broadcast"
    assert f.python_eval_count == 0


def test_q72_pagerank_jvm_side(spark, sf_dir):
    # Iterative propagation stays entirely in Catalyst: no Python eval
    # nodes; rank/out-weight tables are node-sized (broadcast at scale).
    f = facts(QUERIES["q72_pagerank"](spark, sf_dir))
    assert f.python_eval_count == 0


def test_q72_pagerank_broadcast_gate_both_shapes(spark, sf_dir):
    # The rank/contribution broadcast hint is count-gated
    # (_PR_BROADCAST_MAX_NODES): a node table over broadcast size must
    # NOT be hinted (it would OOM every executor's broadcast build) and
    # falls back to co-partitioned shuffle joins where the persisted
    # edge partitioning is reused — only the node-sized frames move per
    # iteration. Auto-broadcast is disabled here so the executed plans
    # show exactly the STATIC decision, not AQE's runtime conversion
    # (which is free to re-broadcast genuinely small frames either way).
    import kinesyslog_spark.queries.graph as g
    from kinesyslog_spark.plans.checks import executed_facts
    from kinesyslog_spark.tables import release_hot

    saved = g._PR_BROADCAST_MAX_NODES
    auto = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", None)
    aqe_auto = spark.conf.get(
        "spark.sql.adaptive.autoBroadcastJoinThreshold", None
    )

    def _restore(key: str, val: str | None) -> None:
        spark.conf.set(key, val) if val is not None else spark.conf.unset(key)

    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        # persisted frames from EARLIER tests (built with default
        # confs) would be CacheManager-substituted into these plans,
        # leaking their compiled broadcasts into the walk — clear all.
        spark.catalog.clearCache()
        release_hot(spark)
        df_small = QUERIES["q72_pagerank"](spark, sf_dir)
        got_small = [(r["node"], r["rank"]) for r in df_small.collect()]
        ef_small = executed_facts(df_small)
        spark.catalog.clearCache()  # big path must not reuse small-path caches
        g._PR_BROADCAST_MAX_NODES = 0
        df_big = QUERIES["q72_pagerank"](spark, sf_dir)
        got_big = [(r["node"], r["rank"]) for r in df_big.collect()]
        ef_big = executed_facts(df_big)
    finally:
        g._PR_BROADCAST_MAX_NODES = saved
        _restore("spark.sql.autoBroadcastJoinThreshold", auto)
        _restore("spark.sql.adaptive.autoBroadcastJoinThreshold", aqe_auto)
        spark.catalog.clearCache()
        release_hot(spark)  # drop registry entries whose blocks just vanished
    assert got_big == got_small, "fallback must be bit-identical"
    # small: 2 hinted broadcasts per iteration (ranks in, contribs back)
    assert ef_small.broadcast_any_count >= 2 * g.PR_ITERATIONS
    # big: zero static broadcasts anywhere...
    assert ef_big.broadcast_any_count == 0, ef_big.nodes
    # ...and co-partitioning keeps the shuffle count at-or-below the
    # broadcast shape's (measured 14 vs 27: per iteration only the dst
    # aggregate exchanges; the edge table is never reshuffled).
    assert ef_big.exchange_count <= ef_small.exchange_count, (
        ef_big.exchange_count,
        ef_small.exchange_count,
    )


def test_q79_sketch_verify_plan(spark, sf_dir):
    # Pass 1 is the ONLY Python node (the Arrow MG summarizer, map-only);
    # pass 2 broadcasts the bounded candidate set into the token scan —
    # the whole vocabulary is never shuffled.
    f = facts(QUERIES["q79_heavy_hitters"](spark, sf_dir))
    assert f.python_eval_count == 0, "no row-at-a-time Python"
    assert "MapInPandas" in f.text, "the MG pass must be the Arrow summarizer"
    assert f.broadcast_any_count >= 1, "candidate set must broadcast"
    assert "TakeOrderedAndProject" in f.text, "top-k must not global-sort"


def test_q80_span_coverage_plan(spark, sf_dir):
    # One shuffle on the gram key (window count, no join-back), one on
    # doc_id, one range partition for the output order — nothing else.
    from kinesyslog_spark.plans.checks import executed_facts

    df = QUERIES["q80_dup_ngram_spans"](spark, sf_dir)
    f = facts(df)
    assert f.python_eval_count == 0
    assert "CartesianProduct" not in f.text
    ef = executed_facts(df)
    assert ef.exchange_count <= 4, (
        f"span coverage grew extra shuffles: {ef.nodes}"
    )


def test_q81_scd2_single_user_shuffle(spark, sf_dir):
    # The user_id hash partition must be REUSED by the run aggregate and
    # the validity window (subset-partitioning satisfies the clustered
    # distribution); only the final ORDER BY adds a range exchange.
    f = facts(QUERIES["q81_scd2_history"](spark, sf_dir))
    assert f.python_eval_count == 0
    assert f.exchange_count <= 2, f"SCD2 build must reuse the user_id shuffle:\n{f.text[:400]}"


def test_q82_stats_broadcast(spark, sf_dir):
    f = facts(QUERIES["q82_hourly_anomaly"](spark, sf_dir))
    assert f.python_eval_count == 0
    assert f.broadcast_any_count >= 1, "per-type stats must broadcast"


def test_q77_kmeans_map_only_assignment(spark, sf_dir):
    # Assignment distances come from broadcast centroid LITERALS — the
    # final plan has no join at all, just the cluster-summary aggregate.
    f = facts(QUERIES["q77_kmeans_clusters"](spark, sf_dir))
    assert f.python_eval_count == 0
    assert "Join" not in f.text, "k-means assignment must not join the corpus"


def test_q78_cluster_bucketed_pairs(spark, sf_dir):
    # Pair expansion joins on the cluster key (never a cartesian) and the
    # exact-cosine verify stays in JVM expressions.
    f = facts(QUERIES["q78_semantic_neardup"](spark, sf_dir))
    assert f.python_eval_count == 0
    assert "CartesianProduct" not in f.text


def test_q83_bpe_single_corpus_pass(spark, sf_dir):
    # The returned merge table is driver-built (6 scalar rows); the
    # guarded fact is on the corpus-scale stage: the word-frequency
    # aggregate must hash-aggregate with no Python nodes. We pin the
    # vocabulary pipeline by running the query and asserting its plan
    # facts via the registry output (literal scan, no joins).
    f = facts(QUERIES["q83_bpe_merges"](spark, sf_dir))
    assert f.python_eval_count == 0
    assert "Join" not in f.text


def test_q84_range_partitioned_sort(spark, sf_dir):
    # NTILE over the global order must run as the distributed two-pass
    # (literal-boundary bucketing + per-bucket windows + broadcast
    # offsets, operators/ranking.py): ZERO unpartitioned window-family
    # nodes may execute. Roll-up stays JVM-side.
    df = QUERIES["q84_curriculum_shards"](spark, sf_dir)
    f = facts(df)
    assert f.python_eval_count == 0
    assert "CartesianProduct" not in f.text
    assert "hashpartitioning(__gr_pid" in f.text, (
        "rank must bucket on the literal-boundary pid"
    )
    df.count()  # materialize so AQE finalizes the executed plan
    assert unpartitioned_window_count(df) == 0, (
        "global NTILE degraded to a single-partition WindowExec"
    )


def test_q135_no_global_window(spark, sf_dir):
    # The exact-verify arm must use the distributed global rank, and the
    # histogram cumulatives the broadcast self-join — no window-family
    # node anywhere in the executed plan may have an empty partition
    # spec (round-4 verdict fix).
    df = QUERIES["q135_histogram_quantiles"](spark, sf_dir)
    f = facts(df)
    assert f.python_eval_count == 0
    df.count()
    assert unpartitioned_window_count(df) == 0, (
        "q135 moved corpus rows to a single-partition window"
    )


def test_q87_map_only_topk(spark, sf_dir):
    # Priority sampling is a map-side score + global top-K: no joins, no
    # Python, TakeOrderedAndProject instead of a global sort.
    f = facts(QUERIES["q87_weighted_sample"](spark, sf_dir))
    assert f.python_eval_count == 0
    assert "Join" not in f.text
    assert "TakeOrderedAndProject" in f.text


def test_q88_no_per_day_self_join(spark, sf_dir):
    # The explode formulation must not degrade into a day-spine join of
    # the corpus: no cartesian, no Python, hash aggregates only.
    f = facts(QUERIES["q88_dau_mau"](spark, sf_dir))
    assert f.python_eval_count == 0
    assert "CartesianProduct" not in f.text
    assert f.sort_aggregate_count == 0


def test_q89_fusion_probe_broadcast(spark, sf_dir):
    # Both retrieval lists are top-k bounded; the dense probe must
    # broadcast (one-row side), and nothing may degrade to a cartesian.
    f = facts(QUERIES["q89_hybrid_rrf"](spark, sf_dir))
    assert f.broadcast_any_count >= 1, "dense probe must broadcast"
    assert "CartesianProduct" not in f.text
    assert f.python_eval_count == 0


def test_q90_range_join_is_bin_replicated(spark, sf_dir):
    # The range join must run as explode-to-bins + hash aggregate on the
    # bin key — never a point-vs-interval theta join (BroadcastNestedLoop/
    # Cartesian), which is the plan that dies at 100 TB.
    f = facts(QUERIES["q90_range_join_inflight"](spark, sf_dir))
    assert "CartesianProduct" not in f.text
    assert "BroadcastNestedLoop" not in f.text
    assert "Generate" in f.text, "bin expansion (explode) missing from plan"
    assert f.python_eval_count == 0


def test_q91_chunking_map_only(spark, sf_dir):
    # Chunking is per-row expansion: beyond the shared token-cache build
    # (whose own exchanges the plan re-prints under the scan), the
    # chunker itself may add at most the output-order exchange.
    from kinesyslog_spark.tables import hot_tokens

    base = facts(hot_tokens(spark, sf_dir))
    f = facts(QUERIES["q91_doc_chunks"](spark, sf_dir))
    assert f.python_eval_count == 0
    assert f.exchange_count - base.exchange_count <= 1, (
        f"chunker must be map-only up to the output order:\n{f.text[:500]}"
    )


def test_q92_aggregate_before_join(spark, sf_dir):
    # Q18 shape: the quantity sum + HAVING must land BELOW the joins so
    # only surviving orders reach customer/orders.
    f = facts(QUERIES["q92_large_orders"](spark, sf_dir))
    assert "CartesianProduct" not in f.text
    assert "HashAggregate" in f.text
    assert f.python_eval_count == 0


def test_q94_pushdown_and_agg_below_join(spark, sf_dir):
    # Q10 shape: the returnflag filter must reach the lineitem scan and
    # nation must broadcast; revenue aggregates before the wide joins.
    f = facts(QUERIES["q94_returned_item_revenue"](spark, sf_dir))
    pushed = f.pushed_filters("lineitem")
    assert pushed and any("l_returnflag" in p for p in pushed)
    assert f.broadcast_join_count >= 1, "nation must broadcast"
    assert "CartesianProduct" not in f.text


def test_q95_no_python_no_cartesian(spark, sf_dir):
    f = facts(QUERIES["q95_bigram_logprob"](spark, sf_dir))
    assert f.python_eval_count == 0
    assert "CartesianProduct" not in f.text


def test_q96_incremental_broadcasts_new_side(spark, sf_dir):
    # The incoming batch must broadcast into the reference corpus's
    # banded signatures — never a shuffle of the corpus side per batch.
    f = facts(QUERIES["q96_incremental_neardup"](spark, sf_dir))
    assert f.broadcast_any_count >= 1, "new-batch side must broadcast"
    assert "CartesianProduct" not in f.text
    assert f.python_eval_count == 0


def test_q97_semi_join_with_pushed_date(spark, sf_dir):
    # Q4 shape: EXISTS must compile to a LeftSemi hash join (no correlated
    # per-row subplan, no cartesian) and the quarter filter must reach the
    # orders scan.
    f = facts(QUERIES["q97_order_priority_check"](spark, sf_dir))
    assert "LeftSemi" in f.text, "EXISTS must be a left-semi join"
    assert "CartesianProduct" not in f.text
    pushed = f.pushed_filters("orders")
    assert pushed and any("o_orderdate" in p for p in pushed)


def test_q98_month_filter_pushed_part_broadcast(spark, sf_dir):
    # Q14 shape: the ship-month filter prunes the lineitem scan; the part
    # dim broadcasts; the ratio comes from one hash aggregate.
    f = facts(QUERIES["q98_promo_revenue_share"](spark, sf_dir))
    pushed = f.pushed_filters("lineitem")
    assert pushed and any("l_shipdate" in p for p in pushed)
    assert f.broadcast_join_count >= 1, "part must broadcast"
    assert f.python_eval_count == 0


def test_q99_argmax_broadcast_no_resort(spark, sf_dir):
    # Q15 shape: the MAX scalar is a 1-row broadcast; supplier broadcasts;
    # nothing re-aggregates with a sort.
    f = facts(QUERIES["q99_top_supplier_revenue"](spark, sf_dir))
    assert f.broadcast_any_count >= 2, "max row + supplier dim must broadcast"
    assert "CartesianProduct" not in f.text


def test_q100_decorrelated_single_brand_slice(spark, sf_dir):
    # Q17 shape: the brand slice broadcasts into both lineitem reads; the
    # per-part aggregate joins back as a hash join, not a per-row subplan.
    f = facts(QUERIES["q100_small_qty_revenue"](spark, sf_dir))
    assert f.broadcast_any_count >= 1, "brand part-slice must broadcast"
    assert "CartesianProduct" not in f.text
    assert f.python_eval_count == 0


def test_q101_scalar_broadcast_and_anti_join(spark, sf_dir):
    # Q22 shape: the global-threshold row broadcasts (the one legitimate
    # 1-row cross join); the lapsed-customer test is LeftAnti.
    f = facts(QUERIES["q101_idle_rich_customers"](spark, sf_dir))
    assert "LeftAnti" in f.text, "no-recent-orders must be an anti join"
    assert f.broadcast_any_count >= 2, "threshold row + nation must broadcast"


def test_q102_envelope_reaches_scans(spark, sf_dir):
    # Q19 shape: the coarse envelope implied by the OR branches must reach
    # both parquet scans even though Catalyst can't derive it itself.
    f = facts(QUERIES["q102_disjunctive_revenue"](spark, sf_dir))
    pushed_li = f.pushed_filters("lineitem")
    assert pushed_li and any("l_quantity" in p for p in pushed_li)
    pushed_p = f.pushed_filters("part")
    assert pushed_p and any("p_size" in p for p in pushed_p)
    assert f.broadcast_join_count >= 1, "part slice must broadcast"


def test_q103_dsir_broadcast_model(spark, sf_dir):
    # DSIR's point: the bucket model is O(B) rows and must broadcast back
    # into a map-only scoring join — the corpus is never reshuffled on a
    # model key.
    f = facts(QUERIES["q103_dsir_weights"](spark, sf_dir))
    assert f.broadcast_any_count >= 2, "totals row + lambda table must broadcast"
    assert f.python_eval_count == 0
    assert "CartesianProduct" not in f.text


def test_q104_novelty_no_python(spark, sf_dir):
    # Corpus-vs-corpus gram join: both sides shuffle on the gram key (no
    # broadcast of a corpus-sized set), everything JVM-side.
    f = facts(QUERIES["q104_ngram_novelty"](spark, sf_dir))
    assert f.python_eval_count == 0
    assert "CartesianProduct" not in f.text


def test_q105_pq_adc_broadcast_scoring(spark, sf_dir):
    # PQ's point: corpus side is the codes table, scored map-only against
    # broadcast per-probe distance tables; no cartesian, no Python.
    f = facts(QUERIES["q105_pq_ann"](spark, sf_dir))
    assert f.broadcast_any_count >= 1, "probe distance tables must broadcast"
    assert "CartesianProduct" not in f.text
    assert f.python_eval_count == 0


def test_q108_eval_embeddings_broadcast(spark, sf_dir):
    # Semantic decontam: the eval side broadcasts into a map-only cosine
    # pass; the corpus is never shuffled on a similarity key.
    f = facts(QUERIES["q108_semantic_decontam"](spark, sf_dir))
    assert f.broadcast_any_count >= 1, "eval embeddings must broadcast"
    assert f.python_eval_count == 0


def test_q110_budget_table_broadcast(spark, sf_dir):
    # Mixture budgets: the |sources|-sized budget table broadcasts; the
    # only wide shuffle is the per-source quality-order window.
    f = facts(QUERIES["q110_token_budget_mix"](spark, sf_dir))
    assert f.broadcast_any_count >= 2, "wsum row + budget table must broadcast"
    assert "CartesianProduct" not in f.text
    assert f.python_eval_count == 0


def test_q113_no_fact_table_window(spark, sf_dir):
    # Skew report: the window runs over the |keys|-sized count table;
    # the fact table only feeds one hash aggregate.
    f = facts(QUERIES["q113_skew_report"](spark, sf_dir))
    assert "HashAggregate" in f.text
    assert f.python_eval_count == 0
    assert "CartesianProduct" not in f.text


def test_q114_bloom_positions_broadcast(spark, sf_dir):
    # Bloom probe: the occupied-position table broadcasts; the corpus
    # gram stream maps through it without a shuffle on pos.
    f = facts(QUERIES["q114_bloom_decontam"](spark, sf_dir))
    assert f.broadcast_any_count >= 1, "bloom position set must broadcast"
    assert f.python_eval_count == 0


def test_q115_cms_cells_broadcast(spark, sf_dir):
    # CMS probe: the D*W cell table broadcasts into the top-20 join.
    f = facts(QUERIES["q115_cms_frequencies"](spark, sf_dir))
    assert f.broadcast_any_count >= 1, "cell table must broadcast"
    assert f.python_eval_count == 0
    assert f.sort_aggregate_count == 0, "cell build must hash-aggregate"


def test_q123_substring_dedup_plan(spark, sf_dir):
    # ExactSubstr: gram-count aggregate must be hash (map-side combined),
    # everything JVM-side, no cartesian; the dup-gram join may be
    # broadcast (AQE, small dup set) or shuffled hash — never nested-loop.
    f = facts(QUERIES["q123_substring_dedup"](spark, sf_dir))
    assert f.python_eval_count == 0, "substring dedup must stay JVM-side"
    assert "CartesianProduct" not in f.text
    assert "BroadcastNestedLoopJoin" not in f.text
    assert "HashAggregate" in f.text


def test_q124_image_phash_plan(spark, sf_dir):
    # pHash near-dup: exactly the two intended Python stages (PNG
    # render + decode/hash mapInPandas); the LSH bucket expansion and
    # hamming verify stay JVM-side; no cartesian/nested-loop join.
    f = facts(QUERIES["q124_image_phash_neardup"](spark, sf_dir))
    assert f.python_eval_count == 0, "no row-at-a-time Python"
    assert f.text.count("MapInPandas") >= 2, "render + phash are mapInPandas"
    assert "CartesianProduct" not in f.text
    assert "BroadcastNestedLoopJoin" not in f.text


def test_q125_apply_plan(spark, sf_dir):
    # span application is pure array expressions: JVM-side, no token
    # explosion join, no cartesian
    f = facts(QUERIES["q125_substring_dedup_apply"](spark, sf_dir))
    assert f.python_eval_count == 0
    assert "CartesianProduct" not in f.text
    assert "BroadcastNestedLoopJoin" not in f.text


def test_q126_audio_features_plan(spark, sf_dir):
    # render + featurize are the two intended mapInPandas stages;
    # map-only otherwise (exchanges: the input spread + final sort)
    f = facts(QUERIES["q126_audio_features"](spark, sf_dir))
    assert f.python_eval_count == 0
    assert f.text.count("MapInPandas") >= 2
    assert "CartesianProduct" not in f.text
    assert f.exchange_count <= 2


def test_q127_gopher_repetition_plan(spark, sf_dir):
    # Gopher repetition: gram counting must hash-aggregate (map-side
    # combine on (doc_id, n, gram)), all JVM-side, no joins at all.
    f = facts(QUERIES["q127_gopher_repetition"](spark, sf_dir))
    assert f.python_eval_count == 0, "gram stats must stay JVM-side"
    assert "HashAggregate" in f.text
    assert f.shuffle_join_count == 0 and f.broadcast_join_count == 0, (
        "q127 is pure aggregation — a join means the pivot regressed"
    )
    assert "CartesianProduct" not in f.text


def test_q128_source_overlap_plan(spark, sf_dir):
    # Vocabulary Jaccard: the word self-join may shuffle (both sides are
    # corpus-sized); the two set-size joins must broadcast (#sources rows);
    # never a cartesian/nested-loop.
    f = facts(QUERIES["q128_source_overlap"](spark, sf_dir))
    assert f.python_eval_count == 0
    assert f.broadcast_join_count >= 2, "size lookups must broadcast"
    assert "CartesianProduct" not in f.text
    assert "BroadcastNestedLoopJoin" not in f.text


def test_q129_freq_spectrum_plan(spark, sf_dir):
    # N_r spectrum: two cascaded hash aggregates; the spectrum self-join
    # (tiny N_r table) must broadcast; JVM-side throughout.
    f = facts(QUERIES["q129_freq_spectrum"](spark, sf_dir))
    assert f.python_eval_count == 0
    assert "HashAggregate" in f.text
    assert f.broadcast_join_count >= 1, "N_{r+1} lookup must broadcast"
    assert "CartesianProduct" not in f.text


def test_q130_source_divergence_plan(spark, sf_dir):
    # grid build: corpus vocab + 1-row total broadcast onto the
    # per-source table; the sparse-count join may shuffle; all JVM-side.
    f = facts(QUERIES["q130_source_divergence"](spark, sf_dir))
    assert f.python_eval_count == 0
    assert f.broadcast_any_count >= 2, "vocab + total must broadcast"
    assert "BroadcastNestedLoopJoin" in f.text or f.broadcast_join_count >= 1
    assert "HashAggregate" in f.text


def test_q131_zipf_fit_plan(spark, sf_dir):
    # tf hash-agg; the rank<=K global window must compile to
    # TakeOrderedAndProject (per-partition top-K, no full-sort shuffle);
    # one 1-row moment reduce; JVM-side.
    f = facts(QUERIES["q131_zipf_fit"](spark, sf_dir))
    assert f.python_eval_count == 0
    assert "HashAggregate" in f.text
    assert "CartesianProduct" not in f.text
    t = (
        QUERIES["q131_zipf_fit"](spark, sf_dir)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "TakeOrderedAndProject" in t, (
        "global rank filter lost the top-K rewrite — full vocab would "
        "land on one window partition at scale"
    )


def test_q132_token_dispersion_plan(spark, sf_dir):
    # (doc, token) + token-moment hash-aggs; doc-count is a 1-row
    # broadcast; the top-K window must compile to TakeOrderedAndProject.
    f = facts(QUERIES["q132_token_dispersion"](spark, sf_dir))
    assert f.python_eval_count == 0
    assert "HashAggregate" in f.text
    assert f.broadcast_any_count >= 1
    assert "CartesianProduct" not in f.text
    t = (
        QUERIES["q132_token_dispersion"](spark, sf_dir)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "TakeOrderedAndProject" in t


def test_q134_hll_plan(spark, sf_dir):
    # one map-side-combined register aggregate over the scan; the
    # 64-row grid join and the 1-row exact-count join broadcast;
    # JVM-side throughout (md5/bin/shift are built-ins).
    f = facts(QUERIES["q134_hll_cardinality"](spark, sf_dir))
    assert f.python_eval_count == 0
    assert "HashAggregate" in f.text
    assert f.broadcast_any_count >= 1


def test_q135_histogram_plan(spark, sf_dir):
    # OPTIMIZATION_r12 shape: the two data passes (min/max/count + the
    # 128-bucket histogram) run ONCE inside the build over a persisted
    # column; the RETURNED frame is a composition of driver-literal
    # LocalTableScan frames — no parquet scan, no RDD-backed local
    # frame, no python. (The before-plan held 20 parquet scans /
    # 28 exchanges for 3 output rows.)
    f = facts(QUERIES["q135_histogram_quantiles"](spark, sf_dir))
    assert f.python_eval_count == 0
    assert "LocalTableScan" in f.text
    assert "Scan parquet" not in f.text, (
        "q135's returned plan re-scans the corpus; the build must "
        "collect the histogram once"
    )
    assert "ExistingRDD" not in f.text, (
        "driver-literal frames must plan as LocalTableScan "
        "(operators/localframe.py), not parallelized RDDs"
    )


def test_q136_centroid_sim_plan(spark, sf_dir):
    # one (label, dim) hash-agg shuffle; the dim-aligned self-join is
    # over #labels x dim rows; norms/counts broadcast back; JVM-side.
    f = facts(QUERIES["q136_label_centroid_sim"](spark, sf_dir))
    assert f.python_eval_count == 0
    assert "HashAggregate" in f.text
    assert f.broadcast_any_count >= 2
    assert "CartesianProduct" not in f.text


def test_q137_log_templates_plan(spark, sf_dir):
    # synth + parse + mask are all map-side Catalyst expressions; one
    # hash-aggregate shuffle on the (low-cardinality) template key; the
    # final sort; zero python, zero joins.
    f = facts(QUERIES["q137_log_templates"](spark, sf_dir))
    assert f.python_eval_count == 0, "template mining must stay JVM-side"
    assert "HashAggregate" in f.text, (
        "stats agg must hash (a string MIN in the buffer demotes it)"
    )
    t = (
        QUERIES["q137_log_templates"](spark, sf_dir)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "WindowGroupLimit" in t, "example pick must map-side top-1"


def test_q138_template_anomaly_plan(spark, sf_dir):
    # (template, hour) hash-agg, template-stats hash-agg, stats
    # broadcast back; z-scoring map-side; zero python, no cartesian.
    f = facts(QUERIES["q138_template_anomaly"](spark, sf_dir))
    assert f.python_eval_count == 0
    assert "HashAggregate" in f.text
    assert f.broadcast_join_count >= 1, "template stats must broadcast"
    assert "CartesianProduct" not in f.text


def test_q139_k_anonymity_plan(spark, sf_dir):
    # One hash-agg builds the QI classes; risky classes + risky-customer
    # keys broadcast into the orders probe — the fact table is streamed
    # through broadcast hash joins, never shuffled on a join key.
    f = facts(QUERIES["q139_k_anonymity"](spark, sf_dir))
    assert f.python_eval_count == 0
    assert "CartesianProduct" not in f.text
    assert f.broadcast_join_count >= 2, (
        "risky classes and risky-customer keys must broadcast"
    )
    assert "HashAggregate" in f.text


def test_q140_triangle_count_plan(spark, sf_dir):
    # Degree map AND oriented adjacency broadcast (edge-iterator form:
    # triangles come from array_intersect probes, never a materialized
    # wedge shuffle); equi-joins only, no python, and no global
    # single-partition window (orientation is a lexicographic
    # comparison, not a materialized ROW_NUMBER rank).
    f = facts(QUERIES["q140_triangle_count"](spark, sf_dir))
    assert f.python_eval_count == 0
    assert "CartesianProduct" not in f.text
    assert f.broadcast_join_count >= 4, (
        "degree map and adjacency must broadcast"
    )
    assert "Window" not in f.text, "orientation must not materialize a rank"
    assert "array_intersect" in f.text, (
        "triangles must close via adjacency intersection, not a wedge join"
    )


def test_q141_scene_cuts_plan(spark, sf_dir):
    # Exactly the two intended Python stages (AVI synth + decode/
    # histogram mapInPandas); threshold filter and ordering JVM-side;
    # map-only until the tiny cut rows — no joins at all.
    f = facts(QUERIES["q141_scene_cuts"](spark, sf_dir))
    assert f.python_eval_count == 0, "no row-at-a-time Python"
    assert f.text.count("MapInPandas") >= 2, "synth + detect are mapInPandas"
    assert "Join" not in f.text


def test_q142_waiting_suppliers_plan(spark, sf_dir):
    # The order profile must reuse the join's l_orderkey exchange (one
    # fact shuffle + the tiny suppkey agg + final sort); supplier-name
    # join broadcasts; no cartesian, no python.
    f = facts(QUERIES["q142_waiting_suppliers"](spark, sf_dir))
    assert f.python_eval_count == 0
    assert "CartesianProduct" not in f.text
    assert f.broadcast_join_count >= 1, "supplier names must broadcast"
    assert f.exchange_count <= 4, f"blame pipeline over-shuffles:\n{f.text[:400]}"


def test_q143_ivfpq_plan(spark, sf_dir):
    # Coarse centroids and routed probes (with their ADC tables) must
    # broadcast into the code-list scan; scoring is map-side lookups;
    # top-k ranks via WindowGroupLimit, never a global sort of scores.
    f = facts(QUERIES["q143_ivfpq_topk"](spark, sf_dir))
    assert f.python_eval_count == 0
    assert f.broadcast_any_count >= 2, "centroids + routed probes must broadcast"
    t = (
        QUERIES["q143_ivfpq_topk"](spark, sf_dir)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "WindowGroupLimit" in t, "per-probe top-k must map-side limit"


def test_q145_single_pass_audits(spark, sf_dir):
    # every table contributes ONE aggregate pass; the FK check is a
    # broadcast anti-join; report stacking is literal explode — zero
    # python, no cartesian of fact tables (1-row frames cross fine).
    f = facts(QUERIES["q145_data_quality_audit"](spark, sf_dir))
    assert f.python_eval_count == 0
    assert "HashAggregate" in f.text
    assert "BroadcastHashJoin LeftAnti" in f.text or (
        "LeftAnti, BuildRight" in f.text
    ), "orphan check must broadcast the customer key side"


def test_q146_grouped_hll_hash_agg(spark, sf_dir):
    f = facts(QUERIES["q146_grouped_hll_merge"](spark, sf_dir))
    assert f.python_eval_count == 0
    assert f.sort_aggregate_count == 0, "register build must hash-agg"
    assert "CartesianProduct" not in f.text


def test_q147_mmr_distributed_argmax(spark, sf_dir):
    # the candidate pool build must broadcast the probe and pick top-N
    # via TakeOrderedAndProject; each greedy round is the same shape
    # (exercised by running the query; here we pin the candidate stage).
    from kinesyslog_spark.queries.mmr import _candidates

    f = facts(_candidates(spark, sf_dir))
    assert f.python_eval_count == 0
    assert f.broadcast_any_count >= 1, "probe must broadcast"
    assert "TakeOrderedAndProject" in f.text, "top-N must not global-sort"


def test_q148_anchor_broadcast_topk(spark, sf_dir):
    # anchors broadcast into ONE corpus scan; per-(anchor, class) top-1
    # compiles to WindowGroupLimit (map-side rank<=1 before exchange).
    df = QUERIES["q148_hard_negatives"](spark, sf_dir)
    f = facts(df)
    assert f.python_eval_count == 0
    assert f.broadcast_any_count >= 1, "anchor batch must broadcast"
    t = df._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in t, "top-1 must map-side limit"


@pytest.mark.slow
def test_registry_has_no_unpartitioned_windows(spark, sf_dir):
    # ENGINE-WIDE invariant (round-5): no query in the registry may
    # execute a window-family node with an empty partition spec —
    # Spark's "move all rows to a single partition" plan. Global-order
    # semantics route through operators/ranking.py (distributed rank /
    # NTILE) or small_frame_rank (window-free, constant-bounded sets).
    offenders = {}
    for name, fn in QUERIES.items():
        n = unpartitioned_window_count(fn(spark, sf_dir))
        if n:
            offenders[name] = n
    assert not offenders, f"single-partition windows: {offenders}"


def test_q156_sample_filter_is_map_side(spark, sf_dir):
    # the sample arm must filter via a codegen'd hash predicate before
    # its aggregate — no join to pick sample rows, no python, and the
    # exact arm merges via a broadcast
    f = facts(QUERIES["q156_aqp_sampled_aggregate"](spark, sf_dir))
    assert f.python_eval_count == 0
    assert f.broadcast_join_count >= 1
    assert "CartesianProduct" not in f.text
    assert f.sort_aggregate_count == 0


def test_q157_broadcast_model_scoring(spark, sf_dir):
    # training is hash aggregates; the vocabulary model must broadcast
    # into the scoring join; everything JVM-side
    f = facts(QUERIES["q157_naive_bayes_lang"](spark, sf_dir))
    assert f.python_eval_count == 0
    assert f.broadcast_any_count >= 2, "model + prior must broadcast"
    assert f.sort_aggregate_count == 0


def test_q158_distributed_rank_auc(spark, sf_dir):
    # the Mann-Whitney rank must be the distributed form: zero
    # unpartitioned window nodes over the scored corpus
    df = QUERIES["q158_auc_nb_scores"](spark, sf_dir)
    f = facts(df)
    assert f.python_eval_count == 0
    df.count()
    assert unpartitioned_window_count(df) == 0


def test_q161_gd_no_python_no_sort_agg(spark, sf_dir):
    # the final-scan plan: broadcast-free map + hash aggregates only
    f = facts(QUERIES["q161_logreg_gd"](spark, sf_dir))
    assert f.python_eval_count == 0
    assert f.sort_aggregate_count == 0
    assert "CartesianProduct" not in f.text


def test_q163_q165_broadcast_audit_sides(spark, sf_dir):
    # split sizes / leak counts / cluster stats are tiny — broadcast;
    # the only big shuffles are q26's bucket-keyed candidate stages
    for name in ("q163_split_leakage", "q165_cluster_split"):
        f = facts(QUERIES[name](spark, sf_dir))
        assert f.python_eval_count == 0, name
        assert f.broadcast_any_count >= 2, name
        assert "CartesianProduct" not in f.text, name


def test_q167_overlap_plan(spark, sf_dir):
    # register tables and exact counts broadcast into the pair report;
    # the register pair join keys on j (64 rows per type)
    f = facts(QUERIES["q167_hll_audience_overlap"](spark, sf_dir))
    assert f.python_eval_count == 0
    assert f.broadcast_any_count >= 4
    assert f.sort_aggregate_count == 0


def test_q168_benford_plan(spark, sf_dir):
    # one projection + 9-group hash agg per column; Benford table and
    # chi-square rows broadcast; no window, no join against the facts
    df = QUERIES["q168_benford_audit"](spark, sf_dir)
    f = facts(df)
    assert f.python_eval_count == 0
    assert f.broadcast_any_count >= 2
    assert "Window" not in f.text
    df.count()
    assert unpartitioned_window_count(df) == 0


def test_q169_split_auc_plan(spark, sf_dir):
    # model + prior + bin bounds broadcast; per-split AUC is window-free
    df = QUERIES["q169_split_disciplined_auc"](spark, sf_dir)
    f = facts(df)
    assert f.python_eval_count == 0
    assert f.broadcast_any_count >= 3
    df.count()
    assert unpartitioned_window_count(df) == 0


def test_q170_snapshot_diff_plan(spark, sf_dir):
    # two predicates over ONE localCheckpoint-ed history + a full-outer
    # equi-join. localCheckpoint (not persist): a persist would register
    # q81's plan in the CacheManager and rewrite every later q81 call's
    # executed plan session-wide (the contamination this test's q81
    # sibling caught).
    f = facts(QUERIES["q170_snapshot_diff"](spark, sf_dir))
    assert f.python_eval_count == 0
    assert "FullOuter" in f.text or "full_outer" in f.text.lower()
    assert "CartesianProduct" not in f.text
    assert "ExistingRDD" in f.text or "LogicalRDD" in f.text, (
        "history must be materialized once (localCheckpoint scan)"
    )


def test_q171_distributed_median_plan(spark, sf_dir):
    # histogram-selection medians (bucket-count aggregates only), zero
    # unpartitioned windows anywhere
    df = QUERIES["q171_robust_outlier_audit"](spark, sf_dir)
    df.count()
    assert unpartitioned_window_count(df) == 0


def test_q172_sample_bounded_quadratic(spark, sf_dir):
    # the all-pairs ground truth must run on the broadcast SAMPLE (a
    # nested-loop over the sampled side is the audit's documented cost),
    # never as a corpus-sized cartesian
    f = facts(QUERIES["q172_lsh_recall_audit"](spark, sf_dir))
    assert f.python_eval_count == 0
    assert "CartesianProduct" not in f.text
