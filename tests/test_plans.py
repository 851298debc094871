"""Physical-plan regression tests: the properties that make the headline
queries scale are asserted, not assumed — filter/projection pushdown reaches
the parquet scan, dimension joins broadcast, top-k never global-sorts, and
no query falls back to a cartesian product."""

from __future__ import annotations

import pytest

from bigdata_rags_spark.queries.catalog import REGISTRY


def _plan(df, mode="formatted") -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), mode)


@pytest.fixture(scope="module")
def plans(spark, sf_smoke):
    names = [
        "flagship_revenue_by_nation",
        "filter_pushdown_highvalue",
        "topk_orders_by_price",
        "tpch_q1_pricing_summary",
        "minhash_lsh_candidates",
        "ngram_jaccard_near_dups",
        "embedding_cosine_topk",
        "range_join_shipments_in_window",
    ]
    return {n: _plan(REGISTRY[n].spark(spark, sf_smoke)) for n in names}


def test_filter_and_projection_reach_the_scan(plans):
    p = plans["filter_pushdown_highvalue"]
    assert "PushedFilters: [" in p and "GreaterThan(l_quantity,45.0)" in p
    # projection pruning: the scan must not read unused columns
    assert "l_shipdate" not in p.split("ReadSchema")[1].splitlines()[0]


def test_q1_scan_prunes_and_pushes_date_filter(plans):
    p = plans["tpch_q1_pricing_summary"]
    assert "LessThanOrEqual(l_shipdate" in p
    read_schema = p.split("ReadSchema")[1].splitlines()[0]
    assert "l_orderkey" not in read_schema  # unused column pruned


def test_flagship_joins_broadcast_dimensions(plans):
    p = plans["flagship_revenue_by_nation"]
    assert p.count("BroadcastHashJoin") >= 2  # nation+region at minimum
    assert "CartesianProduct" not in p


def test_topk_uses_take_ordered_not_global_sort(plans):
    assert "TakeOrderedAndProject" in plans["topk_orders_by_price"]


def test_no_cartesian_products_anywhere(plans):
    for name, p in plans.items():
        # embedding_cosine_topk uses an intentional broadcast NL join for
        # the tiny query side; everything else must be hash/sort-merge
        if name == "embedding_cosine_topk":
            assert "BroadcastNestedLoopJoin" in p and "CartesianProduct" not in p
        else:
            assert "CartesianProduct" not in p, name


def test_whole_stage_codegen_covers_hot_paths(spark, sf_smoke):
    # the scan->filter->project->partial-agg pipeline must be codegen'd.
    # AQE wraps the whole plan pre-execution (hiding codegen stages from
    # every explain mode), so inspect the plan with AQE off — codegen
    # applies identically inside AQE's query stages at runtime.
    import re

    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        for name in ("tpch_q1_pricing_summary", "flagship_revenue_by_nation"):
            df = REGISTRY[name].spark(spark, sf_smoke)
            p = _plan(df, "codegen")
            m = re.search(r"Found (\d+) WholeStageCodegen subtrees", p)
            assert m and int(m.group(1)) >= 1, name
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")


def test_bm25_and_hybrid_are_lazy_and_take_ordered(spark, sf_smoke):
    # VERDICT r1: the retrieval tier must have NO driver-side actions in the
    # scoring path (corpus stats are in-plan 1-row aggregates) and must take
    # top-k via TakeOrderedAndProject, not a corpus-wide row_number window.
    import inspect

    from bigdata_rags_spark.retrieval import bm25 as bm25_mod

    src = inspect.getsource(bm25_mod)
    assert ".collect()" not in src and ".count()" not in src and ".toPandas()" not in src

    for name in ("bm25_keyword_search", "hybrid_rag_search"):
        df = REGISTRY[name].spark(spark, sf_smoke)
        p = _plan(df)
        assert "TakeOrderedAndProject" in p, name
        # the rank window sits above the global limit, so any unpartitioned
        # Window in the plan sees at most k rows (not the corpus)


def test_token_statistics_need_no_explode(spark, sf_smoke):
    """The quality gate and BM25 read per-document token statistics from
    the token array in its own row: no (doc, token) Generate, and a bounded
    number of Spark jobs (the explode formulation took 8 and 21-23)."""
    from bigdata_rags_spark.quality import repetition_quality
    from bigdata_rags_spark.queries.llm_ops import _docs_parallel
    from bigdata_rags_spark.testing import spark_jobs

    gate = repetition_quality(_docs_parallel(spark, sf_smoke))
    hybrid = REGISTRY["hybrid_rag_search"].spark(spark, sf_smoke)
    for df, max_jobs in ((gate, 2), (hybrid, 10)):
        assert "Generate" not in _plan(df)
        assert spark_jobs(spark, df.collect) <= max_jobs


def test_range_join_is_hash_join_with_band_condition(plans):
    p = plans["range_join_shipments_in_window"]
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
    assert "Join" in p


def test_r2_operators_have_scale_safe_plans(spark, sf_smoke):
    """Round-2 additions: the plan properties their SCALE.md/docstring
    rationale claims."""
    for name, pred in {
        # quality gate / LM scoring / decontamination: aggregation-shaped,
        # never a global (unpartitioned) window
        "gopher_quality_filters": lambda p: "Window" not in p,
        "unigram_lm_doc_scores": lambda p: "Window" not in p,
        "benchmark_decontamination": lambda p: "BroadcastHashJoin" in p
        and "CartesianProduct" not in p,
        # sampling is a row-local filter: no exchange at all
        "stratified_sample_docs": lambda p: "Exchange" not in p,
        # unpivot plans as Expand in the scan stage, no shuffle before it
        "unpivot_lineitem_measures": lambda p: "Expand" in p,
        # Q4 semi-join stays a real semi join
        "tpch_q4_order_priority": lambda p: "LeftSemi" in p,
        # gap-fill joins timeline and rollup; no cartesian
        "events_hourly_gapfill": lambda p: "CartesianProduct" not in p,
    }.items():
        p = _plan(REGISTRY[name].spark(spark, sf_smoke))
        assert pred(p), f"{name} plan regressed:\n{p[:2000]}"


def test_new_tpch_analogs_have_scale_safe_plans(spark, sf_smoke):
    """Round-2 TPC-H suite additions: pushdown, broadcast, and top-k
    properties their docstrings claim."""
    for name, pred in {
        # Q5: supplier/nation/region broadcast; fact joins never cartesian
        "tpch_q5_local_supplier_volume": lambda p: "BroadcastHashJoin" in p
        and "CartesianProduct" not in p,
        # Q6: all three range predicates reach the parquet scan
        "tpch_q6_forecast_revenue": lambda p: "PushedFilters: [" in p
        and "GreaterThanOrEqual(l_shipdate" in p
        and "GreaterThanOrEqual(l_discount" in p
        and "LessThan(l_quantity" in p,
        # Q10/Q18: deterministic top-k plans as TakeOrderedAndProject
        "tpch_q10_returned_items": lambda p: "TakeOrderedAndProject" in p,
        "tpch_q18_large_volume_customers": lambda p: "TakeOrderedAndProject" in p
        and "CartesianProduct" not in p,
        # Q14: single scan, CASE folded into the partial agg — no window,
        # part side broadcast
        "tpch_q14_promo_effect": lambda p: "BroadcastHashJoin" in p
        and "Window" not in p,
        # video frame sampling: narrow map over payloads, no exchange at all
        "multimodal_video_framesample": lambda p: "Exchange" not in p
        and "Window" not in p,
    }.items():
        p = _plan(REGISTRY[name].spark(spark, sf_smoke))
        assert pred(p), f"{name} plan regressed:\n{p[:2000]}"


def test_late_tpch_analogs_have_scale_safe_plans(spark, sf_smoke):
    """Q7/Q11/Q16/Q19: broadcast and pushdown properties their docstrings
    claim."""
    for name, pred in {
        # Q7: both nation role-joins broadcast, fact joins never cartesian
        "tpch_q7_volume_shipping": lambda p: p.count("BroadcastHashJoin") >= 2
        and "CartesianProduct" not in p,
        # Q11: the 1-row global total joins via broadcast NL (one row) —
        # never a shuffled cartesian
        "tpch_q11_important_parts": lambda p: "CartesianProduct" not in p,
        # Q16: blacklist anti-join broadcasts; distinct count has no Expand
        "tpch_q16_supplier_part_counts": lambda p: "BroadcastHashJoin" in p
        and "Expand" not in p,
        # Q19: quantity bounds push to the lineitem scan even though they
        # sit inside a cross-side disjunction
        "tpch_q19_disjunctive_predicates": lambda p: "PushedFilters: [" in p
        and "l_quantity" in p.split("PushedFilters")[1][:400],
    }.items():
        p = _plan(REGISTRY[name].spark(spark, sf_smoke))
        assert pred(p), f"{name} plan regressed:\n{p[:2000]}"


@pytest.mark.slow  # plans EVERY registry query (330 s measured r17)
def test_full_registry_has_no_cartesian_products(spark, sf_smoke):
    """Global guard: building EVERY registered query's physical plan (no
    execution) and asserting none falls back to CartesianProduct.
    Intentional broadcast nested-loop joins (tiny side: 1-row scalar
    aggregates, small query sets) are allowed; an unbroadcast cartesian is
    never acceptable at 100 TB."""
    failures = []
    for name, spec in sorted(REGISTRY.items()):
        plan = _plan(spec.spark(spark, sf_smoke))
        if "CartesianProduct" in plan:
            failures.append(name)
    assert not failures, failures


def test_final_tpch_analogs_have_scale_safe_plans(spark, sf_smoke):
    """Q8/Q15/Q17/Q20/Q21/Q22: the aggregate-reuse and broadcast shapes
    their docstrings claim."""
    for name, pred in {
        # Q8: dimension joins broadcast; single-pass conditional share
        "tpch_q8_market_share": lambda p: p.count("BroadcastHashJoin") >= 3,
        # Q15: argmax equality joins a broadcast 1-row max — Catalyst even
        # converts crossJoin+equality-filter into a BroadcastHashJoin on
        # the max key; no sort anywhere
        "tpch_q15_top_supplier": lambda p: "BroadcastHashJoin" in p
        and "TakeOrderedAndProject" not in p
        and "Sort" not in p,
        # Q17: per-part threshold join is a real equi-join, not cartesian
        "tpch_q17_small_quantity_revenue": lambda p: "CartesianProduct" not in p
        and ("SortMergeJoin" in p or "ShuffledHashJoin" in p or "BroadcastHashJoin" in p),
        # Q20: supplier-name join broadcasts; two stacked aggs
        "tpch_q20_concentrated_suppliers": lambda p: "BroadcastHashJoin" in p,
        # Q21: the double existential is agg+join, never a window funnel
        "tpch_q21_sole_blamed_supplier": lambda p: "Window" not in p,
        # Q22: anti-join present; scalar average broadcasts
        "tpch_q22_dormant_rich_customers": lambda p: "LeftAnti" in p
        and "BroadcastNestedLoopJoin" in p,
    }.items():
        p = _plan(REGISTRY[name].spark(spark, sf_smoke))
        assert pred(p), f"{name} plan regressed:\n{p[:2000]}"


def test_near_dup_pairs_plan_is_block_join_not_bnlj(spark, sf_smoke):
    """VERDICT r2 #3: the exact all-pairs baseline (test-only since r7 —
    VERDICT r6 #8 deregistered it from queries()) must not be a corpus x
    corpus BroadcastNestedLoopJoin.  Since r3 it is a block-pair equi-join
    on the (bi, bj) cell key — a plain shuffle join whose cells each bound
    pair work at block_rows^2."""
    from bigdata_rags_spark.queries.llm_ops import embedding_near_dup_pairs

    p = _plan(embedding_near_dup_pairs(spark, sf_smoke))
    assert "BroadcastNestedLoopJoin" not in p and "CartesianProduct" not in p
    assert "SortMergeJoin" in p or "ShuffledHashJoin" in p or "BroadcastHashJoin" in p


def test_lsh_near_dup_pairs_plan_is_subquadratic(spark, sf_smoke):
    """VERDICT r4 #3: the production near-dup path (LSH candidates -> exact
    verify) must contain NO O(N^2) stage — every join is an equi-join on the
    probed signature or the pair ids; candidate volume is collision-bounded,
    not corpus x corpus."""
    p = _plan(REGISTRY["embedding_near_dup_pairs_lsh"].spark(spark, sf_smoke))
    assert "BroadcastNestedLoopJoin" not in p and "CartesianProduct" not in p
    assert "SortMergeJoin" in p or "ShuffledHashJoin" in p or "BroadcastHashJoin" in p


def test_lsh_near_dup_recall_vs_exact(spark, sf_smoke):
    """The approximate path's recall against the exact op is the contract
    users tune (tables/probes); pin a floor on the smoke fixture — the
    adversarial no-margin case — so parameter regressions surface.  The
    exact baseline is the test-only helper since r7 (deregistered from
    queries() as Omega(N^2)-by-contract)."""
    from bigdata_rags_spark.queries.llm_ops import embedding_near_dup_pairs

    lsh = {
        (r["id_a"], r["id_b"])
        for r in REGISTRY["embedding_near_dup_pairs_lsh"].spark(spark, sf_smoke).collect()
    }
    exact = {
        (r["id_a"], r["id_b"])
        for r in embedding_near_dup_pairs(spark, sf_smoke).collect()
    }
    assert lsh <= exact, "verify step must make every emitted pair exact-true"
    assert len(lsh & exact) >= 0.6 * len(exact), (len(lsh), len(exact))


def test_q9_q12_substitute_plans_are_scale_safe(spark, sf_smoke):
    """Q9/Q12 shape substitutes (VERDICT r4 #5): Q9 broadcasts part/supplier/
    nation and never goes cartesian; Q12's shipdate window pushes to the
    lineitem parquet scan."""
    p9 = _plan(REGISTRY["tpch_q9_profit_by_nation_year"].spark(spark, sf_smoke))
    assert p9.count("BroadcastHashJoin") >= 3 and "CartesianProduct" not in p9
    p12 = _plan(REGISTRY["tpch_q12_priority_by_returnflag"].spark(spark, sf_smoke))
    assert "PushedFilters: [" in p12 and "GreaterThanOrEqual(l_shipdate" in p12
    assert "CartesianProduct" not in p12


def test_r6_queries_have_scale_safe_plans(spark, sf_smoke):
    """Round-6 additions: the plan properties their docstrings claim."""
    for name, pred in {
        # maintenance family: hash-pair full outer join / max-version
        # window — equi-joins and single-key shuffles only
        "zone_snapshot_diff": lambda p: "CartesianProduct" not in p
        and "BroadcastNestedLoopJoin" not in p
        and "FullOuter" in p,
        "upsert_current_rows": lambda p: "CartesianProduct" not in p
        and "Window" in p,
        "scd2_current_rows": lambda p: "CartesianProduct" not in p
        and "BroadcastNestedLoopJoin" not in p,
        # prefix dedup: one hash-agg shuffle on the 32-hex key, no join
        "prefix_dup_docs": lambda p: "Join" not in p and "Exchange" in p,
        # PNG features: narrow Arrow map over synthesized payloads — no
        # exchange at all after the parallelize repartition
        "multimodal_png_features": lambda p: "Join" not in p
        and "Window" not in p,
        # null-safe equality plans as a real hash/sort-merge join key —
        # never a cartesian/BNLJ fallback
        "null_safe_join_semantics": lambda p: "CartesianProduct" not in p
        and "BroadcastNestedLoopJoin" not in p
        and ("SortMergeJoin" in p or "ShuffledHashJoin" in p or "BroadcastHashJoin" in p),
        # decimal aggregation stays a plain partial+final hash agg
        "decimal_exact_revenue": lambda p: "HashAggregate" in p
        and "Join" not in p,
    }.items():
        p = _plan(REGISTRY[name].spark(spark, sf_smoke))
        assert pred(p), f"{name} plan regressed:\n{p[:2000]}"


def test_late_r7_queries_have_scale_safe_plans(spark, sf_smoke):
    """Late-round-7 additions: the plan properties their docstrings claim."""
    for name, pred in {
        # rollup cascade: three stacked hash aggs, no join, no window
        "events_rollup_cascade": lambda p: "Join" not in p
        and p.count("HashAggregate") >= 4,  # partial+final per level
        # priority sampling: top-(k+1) must be TakeOrderedAndProject, not
        # a global Sort+Exchange
        "priority_sample_docs": lambda p: "TakeOrderedAndProject" in p
        and "CartesianProduct" not in p,
        # KMV overlap: broadcast pair expansion, equi-joins (the tiny
        # src<src pair build is the only nested-loop, on S rows)
        "source_pair_overlap_kmv": lambda p: "CartesianProduct" not in p,
        # bloom: filter side is a broadcast; probe join is left outer
        # broadcast hash join
        "bloom_prefilter_incremental_dedup": lambda p: "BroadcastHashJoin" in p
        and "CartesianProduct" not in p,
        # PQ ADC: LUT broadcast into an equi-join; partitioned window only
        "embedding_pq_adc_topk": lambda p: "BroadcastHashJoin" in p
        and "CartesianProduct" not in p
        and "BroadcastNestedLoopJoin" not in p,
        "embedding_pq_rerank_topk": lambda p: "CartesianProduct" not in p
        and "BroadcastNestedLoopJoin" not in p,
        # z-order stats: 1-row bounds broadcast + partial+final agg, no
        # window, no sort
        "zorder_file_skipping_stats": lambda p: "HashAggregate" in p
        and "CartesianProduct" not in p
        and "Window" not in p,
        # CDC compaction: one key window, no join
        "cdc_apply_log_compaction": lambda p: "Join" not in p
        and "Window" in p,
    }.items():
        p = _plan(REGISTRY[name].spark(spark, sf_smoke))
        assert pred(p), f"{name} plan regressed:\n{p[:2000]}"


def test_r8_queries_have_scale_safe_plans(spark, sf_smoke):
    """Round-8 additions: the plan properties their docstrings claim."""
    for name, pred in {
        # domain quota: URL parse is pure projection; one window, no join
        "domain_quota_selection": lambda p: "Join" not in p and "Window" in p,
        # domain stats: one hash agg (Expand for the count-distincts), no
        # join, no window
        "domain_corpus_stats": lambda p: "Join" not in p
        and "HashAggregate" in p
        and "Window" not in p,
        # linear classifier: explode -> literal lookup -> partial+final
        # hash agg; no join, no window, no UDF in the plan
        "quality_classifier_scores": lambda p: "Join" not in p
        and "Window" not in p
        and "HashAggregate" in p
        and "BatchEvalPython" not in p,
        # PII scan: pure regex projection — no join, no window, no agg
        "doc_pii_scan": lambda p: "Join" not in p and "Window" not in p,
        # SemDeDup: in-cell equi-join pairing + anti-join survival, never
        # a cartesian over the corpus
        "semantic_dedup_cells": lambda p: "CartesianProduct" not in p
        and "BroadcastNestedLoopJoin" not in p,
        # PSL: suffix table must come in as a BROADCAST join
        "domain_psl_extraction": lambda p: "BroadcastHashJoin" in p
        and "CartesianProduct" not in p,
        # PageRank: (node, bigint) equi-joins per unrolled iteration, never
        # a cartesian
        "near_dup_pagerank": lambda p: "CartesianProduct" not in p
        and "BroadcastNestedLoopJoin" not in p,
        # IVFPQ: probes + LUT broadcast into equi-joins
        "embedding_ivfpq_rerank_topk": lambda p: "BroadcastHashJoin" in p
        and "CartesianProduct" not in p
        and "BroadcastNestedLoopJoin" not in p,
        # QL retrieval: top-k must plan as TakeOrderedAndProject, not a
        # global-window corpus funnel
        "query_likelihood_search": lambda p: "TakeOrderedAndProject" in p
        and "CartesianProduct" not in p,
        # drift monitor: grid built from broadcast tiny frames only
        "source_token_drift": lambda p: "CartesianProduct" not in p,
    }.items():
        p = _plan(REGISTRY[name].spark(spark, sf_smoke))
        assert pred(p), f"{name} plan regressed:\n{p[:2000]}"


def test_r11_queries_have_scale_safe_plans(spark, sf_smoke):
    """Round-11 additions: the plan properties their docstrings claim."""
    for name, pred in {
        # hard negatives: the broadcast-queries one-pass scan (BNLJ over the
        # broadcast anchor set is the intended plan; cartesian is not)
        "embedding_hard_negatives": lambda p: "CartesianProduct" not in p,
        # soft dedup: hash-keyed size join, no window, no corpus pairing
        "soft_dedup_sampling": lambda p: "CartesianProduct" not in p
        and "BroadcastNestedLoopJoin" not in p
        and "Window" not in p,
        # mixing plan: domain-sized aggregate + a broadcast 1-row totals
        # join; must never expand to a corpus-sized pairing
        "domain_temperature_mixing": lambda p: "CartesianProduct" not in p
        and "HashAggregate" in p,
        # packing plan: per-shard window prefix sum, no join
        "sequence_packing_plan": lambda p: "Join" not in p and "Window" in p,
    }.items():
        p = _plan(REGISTRY[name].spark(spark, sf_smoke))
        assert pred(p), f"{name} plan regressed:\n{p[:2000]}"


def test_r13_queries_have_scale_safe_plans(spark, sf_smoke):
    """Round-13 additions: the plan properties their docstrings claim."""
    for name, pred in {
        # trained NB: explode -> 64-key hash agg + broadcast weight join;
        # never a corpus pairing
        "quality_nb_scores": lambda p: "CartesianProduct" not in p
        and "HashAggregate" in p,
        # trained langid: profile join must broadcast (200 rows), no
        # cartesian anywhere
        "langid_ngram_scores": lambda p: "CartesianProduct" not in p
        and "BroadcastHashJoin" in p,
        # Bradley-Terry: models^2 grid joins only; the 1-row totals
        # crossJoins broadcast, a real cartesian must never appear
        "eval_bradley_terry": lambda p: "CartesianProduct" not in p,
        # best-of-n: one per-task window + hash agg, no join explosion
        "eval_best_of_n": lambda p: "CartesianProduct" not in p
        and "Window" in p,
    }.items():
        p = _plan(REGISTRY[name].spark(spark, sf_smoke))
        assert pred(p), f"{name} plan regressed:\n{p[:2000]}"


def test_r15_queries_have_scale_safe_plans(spark, sf_smoke):
    """Round-15 additions: the plan properties their docstrings claim."""
    for name, pred in {
        # curation capstone: id-level funnel — no cartesian, window dedup
        # stages present, NB weight join broadcast
        "curation_funnel_capstone": lambda p: "CartesianProduct" not in p
        and "Window" in p,
        # skew pre-flight: histogram/mask join is an equi-join on
        # (tbl, probe_sig) — never a nested-loop pairing
        "lsh_bucket_skew_preflight": lambda p: "CartesianProduct" not in p
        and "BroadcastNestedLoopJoin" not in p,
        # cross-modal gate: banded equi-join + id-keyed flags
        "cross_modal_dedup_gate": lambda p: "CartesianProduct" not in p,
        # audio capstone: banded probe equi-join, metadata join by id
        "audio_capstone_retrieval": lambda p: "CartesianProduct" not in p
        and "BroadcastNestedLoopJoin" not in p,
        # proximity: positions filtered BEFORE the window (the pushed
        # IN-filter must reach the scan side of the posexplode projection)
        "proximity_boosted_search": lambda p: "CartesianProduct" not in p
        and "Window" in p,
        # stupid backoff: broadcast count-table joins, one hash agg
        "stupid_backoff_doc_scores": lambda p: "CartesianProduct" not in p
        and "BroadcastHashJoin" in p,
        # paired bootstrap: row-local Poisson expansion + hash agg; the
        # only nested-loop is the broadcast 1-row bounds/point combine
        "eval_paired_bootstrap_delta": lambda p: "CartesianProduct" not in p,
        # decayed trending: 1-row max broadcast + hash agg + tiny window
        "events_decayed_trending": lambda p: "CartesianProduct" not in p
        and "HashAggregate" in p,
        # gate agreement: two aggregation subtrees + id join, ONE row out
        "gate_agreement_kappa": lambda p: "CartesianProduct" not in p,
    }.items():
        p = _plan(REGISTRY[name].spark(spark, sf_smoke))
        assert pred(p), f"{name} plan regressed:\n{p[:2000]}"
