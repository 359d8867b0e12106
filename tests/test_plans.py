"""Physical-plan assertions: the 100 TB discipline, checked in CI.

A query that is correct but full-scans, shuffles needlessly, or falls
off whole-stage codegen fails HERE even while the oracle test passes.
"""

from __future__ import annotations

import re

import pyspark.sql.functions as F
import pytest

from typebus_spark.plans.checks import (
    formatted_plan,
    has_global_sort,
    pushed_filters,
    scan_read_schemas,
    simple_plan,
)
from typebus_spark.suite import QUERIES


def _df(spark, sf_dir, name):
    return QUERIES[name].fn(spark, sf_dir)


def test_q1_filter_pushdown_and_pruning(spark, sf_dir):
    df = _df(spark, sf_dir, "q1_pricing_summary")
    pf = " ".join(pushed_filters(df))
    assert "l_shipdate" in pf, pf  # predicate reaches the parquet scan
    rs = " ".join(scan_read_schemas(df))
    assert "l_comment" not in rs  # (not in data, but guard the idea)
    # only needed columns are read: 7 of 11
    assert "l_orderkey" not in rs, rs
    plan = formatted_plan(df)
    # partial+final hash agg (HashAggregate above and below the exchange),
    # not sort agg; (WholeStageCodegen markers only appear post-execution
    # under AQE, so assert the agg shape instead)
    assert plan.count("HashAggregate") >= 2
    assert "SortAggregate" not in plan


def test_q3_broadcasts_dimensions(spark, sf_dir):
    plan = formatted_plan(_df(spark, sf_dir, "q3_shipping_priority"))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_q5_single_fact_shuffle_join(spark, sf_dir):
    plan = formatted_plan(_df(spark, sf_dir, "q5_local_supplier_volume"))
    # every dim is broadcast; lineitem⨝orders may be broadcast at this SF
    # (AQE) but must never be a cartesian/BNLJ
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_events_scan_prunes_columns(spark, sf_dir):
    rs = " ".join(scan_read_schemas(_df(spark, sf_dir, "q_events_by_type")))
    assert "props" not in rs, rs  # unused wide column not read


def test_semi_anti_use_join_not_aggregate(spark, sf_dir):
    for q in ("q_semi_priority_customers", "q_anti_unordered_parts"):
        plan = formatted_plan(_df(spark, sf_dir, q))
        assert "LeftSemi" in plan or "LeftAnti" in plan, plan


def test_knn_broadcasts_query_side(spark, sf_dir):
    plan = formatted_plan(_df(spark, sf_dir, "q_knn_cosine_topk"))
    # small query set must be the broadcast side; corpus never shuffles
    # before scoring
    assert "Broadcast" in plan


def test_knn_topk_native_partial_limit(spark, sf_dir):
    """Top-k must shuffle O(k·partitions), not |Q|·|C|, rows per query:
    Catalyst's WindowGroupLimit Partial prunes to k per map partition
    BEFORE the exchange, and no Sort may be global."""
    for q in ("q_knn_cosine_topk", "q_knn_ivf"):
        df = _df(spark, sf_dir, q)
        assert not has_global_sort(df), simple_plan(df)
        sp = simple_plan(df)
        assert "WindowGroupLimit" in sp and "Partial" in sp, sp


def test_minhash_has_partial_aggregation(spark, sf_dir):
    plan = formatted_plan(_df(spark, sf_dir, "q_dedup_minhash_lsh"))
    # map-side partial min() before the shuffle (HashAggregate appears
    # above and below the exchange)
    assert plan.count("HashAggregate") >= 2
    assert "CartesianProduct" not in plan


def test_relational3_plan_discipline(spark, sf_dir):
    # Q6: every predicate reaches the parquet scan
    pf = " ".join(pushed_filters(_df(spark, sf_dir, "q6_forecast_revenue")))
    assert "l_shipdate" in pf, pf
    # Q18: the HAVING set drives a semi-join, broadcast to the fact side
    plan = formatted_plan(_df(spark, sf_dir, "q18_large_orders"))
    assert "LeftSemi" in plan, plan
    assert "CartesianProduct" not in plan
    # Q22: dormancy is an anti-join; the scalar average is a broadcast,
    # never a shuffled cross product
    plan = formatted_plan(_df(spark, sf_dir, "q22_dormant_customers"))
    assert "LeftAnti" in plan, plan
    assert "CartesianProduct" not in plan
    # Q17: the correlated-average rewrite stays a broadcast join +
    # partial aggregation, not a per-row subquery
    plan = formatted_plan(_df(spark, sf_dir, "q17_small_quantity_revenue"))
    assert plan.count("HashAggregate") >= 2
    assert "CartesianProduct" not in plan


def test_vocab_entropy_partial_aggs(spark, sf_dir):
    for q in ("q_vocab_topk", "q_token_entropy"):
        df = _df(spark, sf_dir, q)
        plan = formatted_plan(df)
        assert plan.count("HashAggregate") >= 2, (q, plan)
        assert "CartesianProduct" not in plan, q
    # vocab top-k must be TakeOrdered, not a global sort
    assert not has_global_sort(_df(spark, sf_dir, "q_vocab_topk"))


def test_per_group_topk_uses_window_group_limit(spark, sf_dir):
    """Per-group rank filters must prune to k rows per map partition
    BEFORE the exchange (WindowGroupLimit), and never sort globally."""
    for q in ("q_topk_per_group", "q_tfidf_top_terms"):
        df = _df(spark, sf_dir, q)
        sp = simple_plan(df)
        assert "WindowGroupLimit" in sp, (q, sp)
        assert not has_global_sort(df), q


def test_kmv_sketch_uses_window_group_limit(spark, sf_dir):
    """The per-group bottom-k must prune to k rows per map partition
    (WindowGroupLimit) — the property that keeps the sketch k-bounded
    in flight instead of shuffling the whole distinct set."""
    df = _df(spark, sf_dir, "q_sketch_kmv_users")
    sp = simple_plan(df)
    assert "WindowGroupLimit" in sp, sp
    assert not has_global_sort(df), sp


def test_no_cartesian_anywhere_except_knn(spark, sf_dir):
    whitelist = {"q_knn_cosine_topk", "q_knn_ivf", "q_dedup_embedding"}
    for name, q in QUERIES.items():
        if name in whitelist:
            continue
        plan = formatted_plan(q.fn(spark, sf_dir))
        assert "CartesianProduct" not in plan, name


def test_q21_aggregated_rewrite(spark, sf_dir):
    # the EXISTS/NOT-EXISTS pair must be one aggregation + semi join,
    # with the supplier dim broadcast — never correlated re-scans
    plan = formatted_plan(_df(spark, sf_dir, "q21_sole_late_supplier"))
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan
    assert plan.count("HashAggregate") >= 2, plan


def test_quantize_and_redact_are_scan_side(spark, sf_dir):
    # quantize + error math and regex scrubbing are pure expressions:
    # exactly the one group-by exchange, and no Python in the plan
    for q in ("q_embedding_quantize", "q_text_redact"):
        plan = formatted_plan(_df(spark, sf_dir, q))
        # the formatted dump names each node twice (tree + detail):
        # exactly one physical Exchange → exactly two mentions
        assert plan.count("Exchange") == 2, (q, plan)
        assert "EvalPython" not in plan, q


def test_skew_report_prunes_columns(spark, sf_dir):
    rs = " ".join(scan_read_schemas(_df(spark, sf_dir, "q_skew_key_report")))
    assert "props" not in rs and "value" not in rs, rs


def test_skew_report_topk_no_global_sort(spark, sf_dir):
    """The top-10 must come from TakeOrderedAndProject (partial top-k on
    every map task), never a global ranking sort over all keys — the
    exact scale hazard this query exists to diagnose."""
    df = _df(spark, sf_dir, "q_skew_key_report")
    sp = simple_plan(df)
    assert "TakeOrderedAndProject" in sp, sp
    assert not has_global_sort(df), sp


def test_token_budget_mix_windows_are_bucketed(spark, sf_dir):
    """The per-row cumsum window must partition by (source, bucket),
    never by source alone — with a handful of sources a whole-source
    window absorbs an entire source into one task. The tiny per-bucket
    offsets table is broadcast back, not shuffled with the data."""
    df = _df(spark, sf_dir, "q_token_budget_mix")
    sp = simple_plan(df)
    big_windows = [
        ln
        for ln in sp.splitlines()
        if "windowspecdefinition" in ln and "_h#" in ln
    ]
    assert big_windows, sp
    for ln in big_windows:
        assert "_b#" in ln, ln  # bucketed, not whole-source
    assert "BroadcastHashJoin" in sp, sp


def test_unpivot_adds_no_shuffle(spark, sf_dir):
    # melt is a projection (Expand above the aggs): the pivot rewrite
    # costs two aggregation exchanges ((user, type) partial then the
    # per-user pivot agg) and the unpivot must add NO further exchange
    plan = formatted_plan(_df(spark, sf_dir, "q_unpivot_activity"))
    assert "Expand" in plan, plan
    assert plan.count("Exchange") == 4, plan  # two nodes, each named twice


def test_drain_jobs_per_round_bounded(spark, sf_dir):
    """Pin the drain loop's driver-job budget: 3-4 retry rounds must run
    as ~3 jobs each (route + queue-snapshot count + terminal scan), 13
    total for q_retry_drain and 12 for q_retry_drain_shed, measured
    stable across sf0.001/sf0.01 and 8/32 cores. A lineage or shed-path
    rework that re-materializes the routed batch per round adds 3-4 jobs
    per round and trips this bound long before it shows up as bench wall
    (the r4 bench recorded 5.6 s for the shed drain; a controlled calm
    re-measure showed 2.6 s — host noise, not a plan change — and this
    pin keeps any REAL per-round materialization from hiding behind that
    noise again)."""
    sc = spark.sparkContext
    for name, bound in (("q_retry_drain", 15), ("q_retry_drain_shed", 14)):
        sc.setJobGroup(name, name)
        try:
            _df(spark, sf_dir, name).write.format("noop").mode(
                "overwrite"
            ).save()
        finally:
            sc.setJobGroup("", "")
        jobs = sc.statusTracker().getJobIdsForGroup(name)
        assert len(jobs) <= bound, (name, len(jobs))


def test_chunk_overlap_is_scan_side(spark, sf_dir):
    """Chunking must stay a projection chain (explode+slice above the
    scan): the only allowed exchange is ensure_parallelism's deliberate
    round-robin SPREAD of a small input — never a shuffle on a key
    (which would mean chunk extraction stopped being scan-local)."""
    plan = formatted_plan(_df(spark, sf_dir, "q_chunk_overlap"))
    n_ex = plan.count("+- Exchange") + plan.count("   Exchange")
    assert plan.count("RoundRobinPartitioning") >= n_ex, plan
    assert "hashpartitioning" not in plan.lower(), plan
    assert "Generate" in plan  # the explode of chunk starts


def test_random_projection_is_scan_side(spark, sf_dir):
    plan = formatted_plan(_df(spark, sf_dir, "q_embedding_random_projection"))
    assert "Exchange" not in plan, plan


def test_profile_decomposed_no_expand_no_cartesian(spark, sf_dir):
    """Profiling is DECOMPOSED (r9): the plain aggregates and the two
    exact distincts each get their own column-pruned scan — the Expand
    form tripled every row through one aggregate and measured 5.6x
    slower fresh-plan at sf0.1 (BASELINE.md). Pins: no Expand, exactly
    three scan locations, the recombine is broadcast-side (1-row
    frames), never a CartesianProduct, and every distinct still
    pre-reduces (partial_count after a group-by, not a raw shuffle)."""
    df = _df(spark, sf_dir, "q_profile_table")
    plan = formatted_plan(df)
    assert "Expand" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert plan.count("Location: InMemoryFileIndex") == 3, plan
    assert not has_global_sort(df), plan


def test_new_pair_queries_no_cartesian_no_global_sort(spark, sf_dir):
    for name in ("q_split_leakage_safe", "q_contamination_fuzzy"):
        df = _df(spark, sf_dir, name)
        plan = formatted_plan(df)
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name
        assert not has_global_sort(df), name


def test_relational4_plan_discipline(spark, sf_dir):
    # Q2/Q9/Q16/Q20 adaptations: every join must broadcast (the fact
    # side is the only big input), every filter must reach its scan,
    # and nothing may global-sort. Q12's date band must hit the
    # lineitem scan BEFORE the orders join.
    for name in (
        "q2_min_cost_supplier",
        "q9_product_profit",
        "q12_priority_by_returnflag",
        "q16_supplier_part_counts",
        "q20_promotable_suppliers",
    ):
        df = _df(spark, sf_dir, name)
        plan = formatted_plan(df)
        assert "SortMergeJoin" not in plan, name
        assert "CartesianProduct" not in plan, name
        assert not has_global_sort(df), name
    pf = " ".join(pushed_filters(_df(spark, sf_dir, "q12_priority_by_returnflag")))
    assert "l_shipdate" in pf, pf
    # Q11's scalar threshold is a one-row broadcast over the per-part
    # aggregate — a nested-loop join against ONE row, never a shuffle.
    plan = formatted_plan(_df(spark, sf_dir, "q11_important_parts"))
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan


def test_repetition_filter_lambda_free_no_join(spark, sf_dir):
    """The n-gram repetition gate must stay on the lambda-free gram
    stream (position explode + stack unpivot = exactly TWO generators;
    the interpreted transform-lambda form measured ~1.8x slower at the
    100x smoke) and aggregate without any join; the scan must prune to
    (doc_id, text)."""
    plan = formatted_plan(_df(spark, sf_dir, "q_filter_repetition"))
    assert plan.count("(") > 0 and "Join" not in plan, plan
    assert len(re.findall(r"\(\d+\) Generate", plan)) == 2, plan
    assert "lambdafunction" not in plan, plan
    assert "lang" not in plan.split("ReadSchema")[1].splitlines()[0], plan


def test_gopher_filter_is_scan_side(spark, sf_dir):
    """The Gopher rule gate must stay a projection over the scan — any
    exchange means a rule stopped being a per-row expression."""
    plan = formatted_plan(_df(spark, sf_dir, "q_filter_gopher"))
    assert "Exchange" not in plan, plan
    assert "Join" not in plan, plan


def test_reservoir_uses_window_group_limit(spark, sf_dir):
    """Per-group reservoir must plan the rank<=k filter as a
    WindowGroupLimit (partial top-k before the group shuffle), so the
    exchange carries O(partitions*k) rows per group, not whole groups."""
    plan = formatted_plan(_df(spark, sf_dir, "q_reservoir_per_group"))
    assert "WindowGroupLimit" in plan, plan


def test_source_overlap_broadcasts_sizes(spark, sf_dir):
    """The source-pair overlap joins per-source size aggregates into the
    pair frame — those must broadcast, and the shingle self-join must be
    a hash join on the shingle key (never a nested-loop pair blowup)."""
    plan = formatted_plan(_df(spark, sf_dir, "q_source_overlap"))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_perplexity_buckets_window_is_distributed(spark, sf_dir):
    """Tier ranking must never plan a single-partition global window:
    the rank window is partitioned by the range-partition id and the
    offsets ride in as an array literal."""
    plan = formatted_plan(_df(spark, sf_dir, "q_perplexity_buckets"))
    assert "hashpartitioning(_pid" in plan, plan
    assert "rangepartitioning(avg_logprob" in plan, plan


def test_pq_rerank_plan_discipline(spark, sf_dir):
    """Two-stage PQ: the re-rank join must broadcast the shortlist into
    the raw-vector scan (BroadcastHashJoin, never a sort-merge over the
    corpus), and the final top-k must keep the WindowGroupLimit partial
    so the per-query shuffle carries O(partitions*k) rows."""
    plan = formatted_plan(_df(spark, sf_dir, "q_knn_pq"))
    assert "WindowGroupLimit" in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_curated_mix_plan_discipline(spark, sf_dir):
    """The curation pipeline's doc_id joins (gate x tiers, audit
    base x kept) must be hash joins, never a CartesianProduct. The
    plan's BroadcastNestedLoopJoins are the 1-row vocab-size scalar
    broadcasts inside bigram_logprob (deliberate); a data-sized
    nested-loop would instead show as a Cross over two scans, which the
    per-family pins (gopher/perplexity) already exclude."""
    plan = formatted_plan(_df(spark, sf_dir, "q_pipeline_curated_mix"))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan, plan


def test_dsir_lm_joins_broadcast(spark, sf_dir):
    """The two bounded LM frames (bucket counts, ratio) must broadcast
    back over the token scan — a sort-merge there would shuffle the
    whole exploded corpus on the bucket key."""
    plan = formatted_plan(_df(spark, sf_dir, "q_dsir_weights"))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_topic_balance_plan_discipline(spark, sf_dir):
    """Topic assignment is a scan-side literal argmax (codebook in the
    plan); the threshold and sample joins must broadcast — a shuffle of
    the corpus on the topic key would defeat the scan-speed design."""
    plan = formatted_plan(_df(spark, sf_dir, "q_topic_balance"))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_multimodal_real_decode_plan_discipline(spark, sf_dir):
    """The real-decode query's fixture frame (5 literal blobs) must
    BROADCAST onto the documents scan — shuffling the corpus on the
    doc_id%5 key to meet 5 rows would be backwards at 100 TB — and the
    pixel work must stay in ONE mapInPandas stage (no exchange between
    decode and projection)."""
    plan = formatted_plan(_df(spark, sf_dir, "q_multimodal_real_decode"))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert plan.count("MapInPandas (") == 1, plan


def test_multimodal_real_resize_plan_discipline(spark, sf_dir):
    """Fused decode+resize: exactly one mapInPandas stage (pixels never
    cross an executor boundary twice), fixture join broadcast."""
    plan = formatted_plan(_df(spark, sf_dir, "q_multimodal_real_resize"))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert plan.count("MapInPandas (") == 1, plan


def test_append_streaming_result_filters_are_literal(spark, sf_dir):
    """The append-mode streaming queries' finalization filters must be
    resolved PLAN LITERALS (the cutoff is collected once at build time
    via session.event_time_bounds), not correlated subqueries — the
    memory-sink result scan stays a trivial local filter."""
    df = _df(spark, sf_dir, "q_stream_hourly_append")
    plan = formatted_plan(df)
    assert "Subquery" not in plan, plan
    # and the bounds cache means a second build runs no extra agg scan
    from typebus_spark.session import event_time_bounds

    b1 = event_time_bounds(spark, sf_dir)
    b2 = event_time_bounds(spark, sf_dir)
    assert b1 is b2  # same cached dict, no re-collect


def test_collect_sites_are_whitelisted():
    """Every `.collect()` in the library must be scalar-, k-, centroid-,
    candidate-, or partition-count-sized — NEVER data-sized (the
    100 TB no-driver-data invariant the round verdicts audit by hand).
    This pin freezes the per-module collect-site counts: adding a
    collect forces updating the whitelist with a justification here.

    Justifications (re-audited r8): session.py — event-time bounds (one
    row, cached); codec/envelope.py — declared-schema sample for the
    avro switch; operators/similarity.py — centroid/codebook rows
    (k-sized trainers); operators/sketch.py — freqItems candidate
    array; catalog/discovery.py — service descriptors (one per
    service); operators/text_analysis.py — one merge row per
    BPE round; operators/clustering.py — one convergence scalar per
    iteration; queries/similarity.py — one codebook-fingerprint scalar
    per (app, dir), cached (r9 frozen-codebook loader).
    """
    import re
    from collections import Counter
    from pathlib import Path

    root = Path(__file__).resolve().parent.parent / "typebus_spark"
    got: Counter = Counter()
    for p in root.rglob("*.py"):
        n = len(re.findall(r"\.collect\(\)", p.read_text()))
        if n:
            got[str(p.relative_to(root))] = n
    assert dict(got) == {
        "session.py": 1,
        "codec/envelope.py": 1,
        "operators/similarity.py": 4,
        "operators/sketch.py": 1,
        "catalog/discovery.py": 1,
        "operators/text_analysis.py": 1,
        "operators/clustering.py": 1,
        "queries/similarity.py": 1,
    }, got


def test_r9_single_scan_pins(spark, sf_dir):
    """Pins the round-9 double-scan fixes: a reduced frame consumed by
    two aggregates/joins must not re-execute its upstream scan per
    consumer. langid's gram pipeline appears ONCE (its second parquet
    scan is the closed-form n_grams projection, no explode); DSIR and
    substring dedup persist their shared frames (InMemoryRelation in
    the plan, one parquet scan under it)."""
    plan = formatted_plan(_df(spark, sf_dir, "q_text_langid_ngram"))
    assert plan.count("Location: InMemoryFileIndex") == 2, plan
    # one Generate (explode) node; the formatted dump names each node
    # twice (tree + detail section)
    assert plan.count("Generate") == 2, plan
    for name in ("q_dsir_weights", "q_dedup_substring"):
        plan = formatted_plan(_df(spark, sf_dir, name))
        assert "InMemoryRelation" in plan, name
        assert plan.count("Location: InMemoryFileIndex") == 1, name


def test_r10_curated_mix_persists_candidates(spark, sf_dir):
    """r10 double-scan fix: the curated-mix candidate frame (gopher
    gate ⋈ perplexity tiers — two CPU-dense scans upstream) feeds both
    the candidate audit and the kept audit; it must be persisted so
    the upstream executes once (0.67 → 0.27 s fresh-plan at sf0.1)."""
    plan = formatted_plan(_df(spark, sf_dir, "q_pipeline_curated_mix"))
    assert "InMemoryRelation" in plan, plan


def test_html_extract_plan_discipline(spark, sf_dir):
    """HTML->text extraction must stay a pure projection over a pruned
    scan: no Generate (the line heuristic is a bounded HOF filter, not
    an explode), no exchange before the terminal shape, and the scan
    reads only (doc_id, text)."""
    for name in ("q_extract_text", "q_html_boilerplate"):
        plan = formatted_plan(_df(spark, sf_dir, name))
        assert "Generate" not in plan, (name, plan)
        assert "Exchange" not in plan, (name, plan)
        assert "Join" not in plan, (name, plan)
        rs = " ".join(scan_read_schemas(_df(spark, sf_dir, name)))
        assert "doc_id" in rs and "text" in rs and "lang" not in rs, rs


def test_domain_psl_plan_discipline(spark, sf_dir):
    """PSL registrable-domain dispatch must plan its big literal rule
    tables as InSet (hash lookup) — not a join, not a chain of ORs —
    and aggregate with map-side partials over one pruned scan."""
    df = _df(spark, sf_dir, "q_domain_psl")
    plan = formatted_plan(df)
    assert "Join" not in plan, plan
    simple = df._jdf.queryExecution().executedPlan().toString()
    assert "INSET" in simple, simple[:2000]
    assert plan.count("HashAggregate") >= 2, plan
    rs = " ".join(scan_read_schemas(df))
    assert rs.strip().endswith("struct<doc_id:bigint>"), rs


def test_pipeline_plan_node_guard_counts_and_caps(spark):
    """The example pipeline's lineage-depth guard (r11 verdict #5) must
    COUNT logical-plan nodes without rendering (the r11 OOM fired
    inside treeString itself) and early-abort at the cap: a 2^k
    self-join chain is seen growing, and passing a small cap returns
    promptly instead of walking the whole tree."""
    import importlib.util
    import os

    spec = importlib.util.spec_from_file_location(
        "llm_pipeline_example",
        os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "examples", "llm_pipeline.py",
        ),
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)

    flat = spark.range(10)
    n_flat = mod._plan_nodes(flat._jdf.queryExecution().logical())
    assert n_flat <= 3, n_flat

    deep = spark.range(10).withColumnRenamed("id", "k")
    for _ in range(5):  # each round doubles the subtree (the r11 trap)
        other = deep.select(F.col("k").alias("k2"))
        deep = deep.join(other, deep["k"] == other["k2"]).drop("k2")
    n_deep = mod._plan_nodes(deep._jdf.queryExecution().logical())
    assert n_deep > 2 ** 5, n_deep
    # cap early-abort: returns cap+1 without walking the full tree
    assert mod._plan_nodes(
        deep._jdf.queryExecution().logical(), cap=10
    ) == 11


def test_q7_nation_broadcast_built_once(spark, sf_dir):
    """r13: q7 probes ONE nation dim via .alias("n1"/"n2") instead of
    two renamed projections. Renames made two DISTINCT canonical
    broadcast subplans, so the 25-row dim was scanned and broadcast-
    built twice, in sequence (two of the query's seven floor stages);
    aliasing keeps the canonical plan identical and AQE serves the
    second probe from ReusedExchange. Reuse only appears at AQE stage
    materialization, hence the collect() (the test_psl_table pattern).
    """
    df = _df(spark, sf_dir, "q7_nation_volume")
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    final = plan.split("+- == Initial Plan ==")[0]
    assert final.count("ReusedExchange") >= 1, final
    # the nation parquet is scanned exactly once in the executed plan
    assert final.count("nation.parquet") == 1, final
