"""Physical-plan assertions (SURVEY §4): the optimizer behaviors we rely on
at 100 TB must actually appear in the plans Catalyst produces."""

from __future__ import annotations

from tests.conftest import SF_MID


def explain(df) -> str:
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_scan_pruned_pushes_filters_and_columns(spark, queries):
    plan = explain(queries["q_scan_pruned"](spark, SF_MID))
    assert "PushedFilters:" in plan
    assert "GreaterThanOrEqual(l_quantity,30.0)" in plan or "l_quantity" in plan.split("PushedFilters:")[1].split("\n")[0]
    # Column pruning: the read schema must not contain unprojected columns.
    read_schema = plan.split("ReadSchema:")[1].split("\n")[0]
    assert "l_returnflag" not in read_schema
    assert "l_shipdate" not in read_schema


def test_broadcast_join_is_broadcast(spark, queries):
    plan = explain(queries["q_join_broadcast"](spark, SF_MID))
    assert "BroadcastHashJoin" in plan


def test_topn_uses_take_ordered(spark, queries):
    plan = explain(queries["q_limit_topn"](spark, SF_MID))
    assert "TakeOrderedAndProject" in plan


def test_theta_join_not_cartesian(spark, queries):
    """The equi component (nationkey) must be the join key — a hash or
    sort-merge join with the theta predicate as a residual — never a
    nested loop (VERDICT r5 #6)."""
    plan = explain(queries["q_join_theta"](spark, SF_MID))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "HashJoin" in plan or "SortMergeJoin" in plan


def test_agg_uses_whole_stage_codegen_and_partial_agg(spark, queries):
    df = queries["q_agg_group"](spark, SF_MID)
    plan = explain(df)
    # partial + final hash aggregation (map-side combine before the shuffle)
    assert plan.count("HashAggregate") >= 2
    assert "Exchange" in plan and "partial_sum" in plan
    # codegen mode shows the fused subtrees (formatted AQE output does not)
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("codegen")
    assert "WholeStageCodegen subtrees" in buf.getvalue()


def test_xml_path_has_no_python_udf(spark, queries):
    """The XML envelope must stay 100% JVM-side (SURVEY §4)."""
    for key in ("q_xml_parse_struct", "q_xml_nested_explode", "q_xml_xpath"):
        plan = explain(queries[key](spark, SF_MID))
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_minhash_band_join_is_equi(spark, queries):
    """LSH candidate generation must be an equi bucket-join — the whole
    point of banding is that no all-pairs operator ever appears."""
    plan = explain(queries["E-MINHASH-LSH"](spark, SF_MID))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_ngram_jaccard_blocked_join_is_equi(spark, queries):
    """Shingle-blocked candidate pairs join on the shingle (equi), never
    all-pairs; only the tiny size lookups broadcast."""
    plan = explain(queries["q_dedup_ngram_jaccard"](spark, SF_MID))
    assert "CartesianProduct" not in plan


def test_langid_scoring_is_joinless_mapside(spark, queries):
    """The per-language bigram profile (|langs| x 20 rows) folds into the
    scoring expression as literals (r16 — the bounded-codebook pattern),
    so the scored plan carries NO join and NO shuffle at all: shuffling
    or even broadcast-joining the document bigrams against a 100-row
    profile was pure overhead. A join reappearing here is a regression."""
    plan = explain(queries["q_text_langid"](spark, SF_MID))
    assert "Join" not in plan
    assert "Exchange" not in plan


def n_exchanges(plan: str) -> int:
    """Count Exchange nodes once (formatted output lists each node in the
    tree header AND the detail section)."""
    import re

    return len(re.findall(r"Exchange \(\d+\)", plan))


def test_pivot_is_single_aggregation(spark, queries):
    """Pinned pivot values compile to ONE hash aggregation over the scan —
    no per-value pass, no distinct-collect of the pivot column."""
    plan = explain(queries["q_pivot_status"](spark, SF_MID))
    assert n_exchanges(plan) <= 1  # one shuffle: partial -> final agg
    assert "CartesianProduct" not in plan


def test_unpivot_has_no_shuffle_after_agg(spark, queries):
    """Unpivot is an Expand node over the aggregated (tiny) input — the
    long-form explosion must not introduce an extra shuffle."""
    plan = explain(queries["q_unpivot_status"](spark, SF_MID))
    assert "Expand" in plan
    assert n_exchanges(plan) <= 1


def test_sample_hash_no_shuffle(spark, queries):
    """Content-hash sampling is a scan-side filter: zero shuffles."""
    plan = explain(queries["q_sample_hash"](spark, SF_MID))
    assert "Exchange" not in plan


def test_retention_cohort_join_is_hashed_not_hinted(spark, queries):
    """The per-user cohort table is |users| rows — smaller than |events|
    but unbounded, so it must NOT carry a forced broadcast hint (driver
    OOM at 100 TB); AQE may still choose broadcast at test SFs. The join
    itself must be hashed, never a nested loop."""
    df = queries["q_events_retention"](spark, SF_MID)
    logical = df._jdf.queryExecution().analyzed().toString()
    assert "ResolvedHint" not in logical
    plan = explain(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_no_forced_broadcast_of_corpus_sized_sides(spark, queries):
    """VERDICT r5 #2: per-doc / per-user / per-term aggregate tables grow
    with the corpus, so a broadcast *hint* on them is a driver OOM at
    100 TB. These queries join ONLY corpus-derived sides, so their
    analyzed plans must carry no broadcast hint at all (AQE is still free
    to broadcast at test SFs — that choice is stats-driven and reverses
    itself at scale; a hint does not). Bounded broadcasts (lexicons,
    centroids, 1-row stats, fixed term lists) live in other queries and
    keep their hints."""
    for key in (
        "q_dedup_near_jaccard",
        "q_dedup_ngram_jaccard",
        "q_dedup_containment",
        "q_events_retention",
        "q_decontaminate",
        "q_decontaminate_frac",
    ):
        df = queries[key](spark, SF_MID)
        logical = df._jdf.queryExecution().analyzed().toString()
        assert "ResolvedHint" not in logical, f"{key}: forced broadcast hint"


def test_chunk_and_redact_are_scan_parallel(spark, queries):
    """Per-document chunking and redaction are pure per-row transforms —
    no shuffle, no Python in the plan."""
    for key in ("q_text_chunk", "q_text_redact"):
        plan = explain(queries[key](spark, SF_MID))
        assert "Exchange" not in plan, key
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, key


def test_centroid_reduces_map_side(spark, queries):
    """The centroid shuffle must carry per-partition partial sums
    (|labels| x dim rows), not the exploded vectors."""
    plan = explain(queries["q_emb_centroid"](spark, SF_MID))
    assert plan.count("HashAggregate") >= 2
    assert "partial_sum" in plan


def test_simhash_band_join_is_equi(spark, queries):
    """Banded fingerprint pair-gen (pigeonhole over 8-bit bands) must be
    an equi join — the round-1 all-pairs BroadcastNestedLoopJoin is the
    canonical 100 TB scale-killer."""
    plan = explain(queries["q_dedup_simhash"](spark, SF_MID))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_emb_lsh_band_join_is_equi(spark, queries):
    """Sign-band embedding near-dup: candidates come from an equi join on
    (band, code) and the rescore joins on vec_id — no all-pairs operator
    anywhere in the plan."""
    plan = explain(queries["E-EMB-LSH"](spark, SF_MID))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_emb_lsh_hi_band_join_is_equi(spark, queries):
    """The realistic-τ path must keep the same no-all-pairs shape: band
    candidates via equi join, rescore via vec_id joins, and the planted
    near-dup union must not defeat any of it."""
    plan = explain(queries["E-EMB-LSH-HI"](spark, SF_MID))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_stratified_sample_is_scan_side(spark, queries):
    """Stratified sampling is a deterministic filter — no shuffle, no
    Python; the whole mixture decision rides the scan."""
    plan = explain(queries["q_sample_stratified"](spark, SF_MID))
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_decontaminate_probe_set_broadcasts(spark, queries):
    """The benchmark shingle set must broadcast; shuffling the corpus
    shingle stream against a tiny probe set would be a scale bug."""
    plan = explain(queries["q_decontaminate"](spark, SF_MID))
    assert "BroadcastHashJoin" in plan


def test_salted_join_is_smj_on_salted_keys(spark, queries):
    """The salt must reach the join keys (spreading a hot key over 8
    shuffle partitions) and the join must be the sort-merge path the salt
    exists for — never a nested loop."""
    plan = explain(queries["q_join_salted"](spark, SF_MID))
    assert "SortMergeJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "salt" in plan


def test_bucketed_join_reads_buckets_without_exchange(spark, queries):
    """Both sides bucketed on the join key: the SMJ must read buckets
    directly — the ONLY Exchange allowed in the whole plan is the final
    small groupBy's (the join inputs never shuffle)."""
    plan = explain(queries["q_join_bucketed"](spark, SF_MID))
    assert "SortMergeJoin" in plan
    assert "Bucketed: true" in plan
    # formatted explain prints each node in the tree AND the detail list;
    # count detail entries ("(n) Exchange") — exactly one node allowed.
    import re

    assert len(re.findall(r"\(\d+\) Exchange", plan)) <= 1


def test_segment_dedup_join_is_equi(spark, queries):
    plan = explain(queries["q_dedup_segment"](spark, SF_MID))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_text_pack_window_is_per_stratum(spark, queries):
    """Packing must use a per-language window — a global ordering would
    plan a SinglePartition exchange and serialize at 100 TB."""
    plan = explain(queries["q_text_pack"](spark, SF_MID))
    assert "SinglePartition" not in plan
    assert "hashpartitioning(lang" in plan


def test_cdc_upsert_is_one_join_no_nested_loop(spark, queries):
    """The CDC merge must be a single key-partitioned join (SMJ or hash) —
    a nested loop over a fact-sized change feed would be the 100 TB
    failure mode."""
    plan = explain(queries["q_cdc_upsert"](spark, SF_MID))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "FullOuter" in plan or "full_outer" in plan.lower()


def test_scd2_shares_one_user_partitioning(spark, queries):
    """Both SCD2 windows and the change filter must reuse ONE user_id hash
    partitioning — re-shuffling between the windows would double the only
    real cost of the operator."""
    df = queries["q_scd2_intervals"](spark, SF_MID)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning(user_id") == 1, plan


def test_lateral_topn_decorrelates_to_window(spark, queries):
    """The LATERAL ORDER BY/LIMIT subquery must decorrelate into a
    windowed rank — per-row re-execution (nested loop) may not appear."""
    plan = explain(queries["q_lateral_topn"](spark, SF_MID))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "row_number" in plan


def test_profile_stats_is_single_scan(spark, queries):
    """The profiler must read the table ONCE (multi-agg + explode), not
    once per column — N scans of a 100 TB table is the naive plan the
    oracle's UNION ALL spells out."""
    plan = explain(queries["q_profile_stats"](spark, SF_MID))
    # One detail block per scan node (the node name itself appears in both
    # the tree and the detail section; Location lines are once per scan).
    assert plan.count("Location: InMemoryFileIndex") == 1, plan


def test_simhash_hashes_each_shingle_once(spark, queries):
    """Regression guard for the inline-hash fix: the md5-derived shingle
    hash must appear ONCE in the plan, not be inlined into all 32 bit-sum
    aggregates (was 50 md5 nodes before the named projection)."""
    df = queries["q_dedup_simhash"](spark, SF_MID)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("md5") <= 2, f"md5 inlined {plan.count('md5')} times"


def test_minhash_sig_has_partial_mins(spark, queries):
    """The signature build must map-side-combine (partial_min per shuffle
    task) so the shuffle carries |docs| x seeds values, not every shingle."""
    plan = explain(queries["q_minhash_sig"](spark, SF_MID))
    assert "partial_min" in plan
    assert "CartesianProduct" not in plan


def test_tpch_q10_take_ordered_and_broadcasts(spark, queries):
    plan = explain(queries["q_tpch_q10"](spark, SF_MID))
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan


def test_tpch_q4_exists_becomes_semi_join(spark, queries):
    """The correlated EXISTS must be decorrelated to a (left-semi) hash
    join on l_orderkey, never a per-row subquery or nested loop."""
    plan = explain(queries["q_tpch_q4"](spark, SF_MID))
    assert "LeftSemi" in plan or "ExistenceJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_tpch_q6_filters_push_to_scan(spark, queries):
    """Date-window and quantity predicates must reach the parquet scan."""
    plan = explain(queries["q_tpch_q6"](spark, SF_MID))
    pushed = plan.split("PushedFilters:")[1].split("\n")[0]
    assert "l_shipdate" in pushed and "l_quantity" in pushed


def test_tpch_q19_disjunction_keeps_hash_join(spark, queries):
    """OR-of-conjuncts across the join must not break the p_partkey
    equi-join into a nested loop (the classic Q19 planner test)."""
    plan = explain(queries["q_tpch_q19"](spark, SF_MID))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "HashJoin" in plan


def test_tpch_q21_single_lineitem_aggregate(spark, queries):
    """Q21 after the r12 aggregate rewrite + r13 single-pass fold: the
    EXISTS/NOT-EXISTS pair is ONE per-order min/max aggregate over the
    F-status lines (count-distincts reduced to min<>max algebra), and
    numwait derives from the aggregate alone — so the plan must hold no
    semi/anti join, no nested loop, NO Expand (no distinct aggregate
    left), and exactly one lineitem scan (the r12 form referenced the
    lineitem⋈orders CTE twice and Spark inlined it into two
    evaluations). A regression to per-row subqueries or a second fact
    pass would multiply the dominant shuffle at 100 TB."""
    plan = explain(queries["q_tpch_q21"](spark, SF_MID))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "LeftAnti" not in plan and "LeftSemi" not in plan
    assert "Expand" not in plan  # min/max algebra — no distinct aggregate
    assert "HashJoin" in plan or "SortMergeJoin" in plan
    assert plan.count("lineitem.parquet") == 1  # single fact pass (r13)


def test_tpch_q2_single_lineitem_pass_and_pushed_semis(spark, queries):
    """Q2 after the r14 rewrite: the correlated min-cost subquery is a
    window min over ONE pair aggregate (the canonical form re-ran the
    whole lineitem pipeline for the subquery branch), and the ASIA/part
    predicates push below the aggregate as group-key semi joins whose
    right sides are join-free filtered scans — so the plan must hold
    exactly one lineitem scan and plan every lineitem-side semi join as
    a BROADCAST hash join (a join-derived subquery side loses its static
    size estimate and demotes to a SortMergeJoin whose exchange shuffles
    the whole fact table — the r13 profile's dominant cost)."""
    plan = explain(queries["q_tpch_q2"](spark, SF_MID))
    assert plan.count("lineitem.parquet") == 1  # single fact pass (r14)
    assert "SortMergeJoin LeftSemi" not in plan
    assert "BroadcastHashJoin LeftSemi" in plan  # pushed-down group-key semis
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_tpch_q11_single_lineitem_pass_and_pushed_semi(spark, queries):
    """Q11 after the r14 pushdown: the NATION_3 supplier filter is a
    broadcast semi join BELOW the pair aggregate (scalar-subquery nation
    lookup keeps the supplier side a statically-estimable filtered
    scan), and the threshold total folds via a window over the bounded
    per-part aggregate (the r13 tot-CTE's ReuseExchange stopped firing
    under the deeper nesting, silently re-running the whole lineitem
    pipeline — exactly the regression this single-scan assert pins)."""
    plan = explain(queries["q_tpch_q11"](spark, SF_MID))
    assert plan.count("lineitem.parquet") == 1
    assert "SortMergeJoin LeftSemi" not in plan
    assert "BroadcastHashJoin LeftSemi" in plan
    assert "Window" in plan  # total folds over the bounded aggregate


def test_brand_abc_xyz_single_scan(spark, queries):
    """abc_xyz after the r14 single-scan fold: the min-shipdate bounds
    pass is gone — (brand, day) aggregate first, min-day window + week
    refold on the bounded aggregate. Two lineitem scans would re-pay the
    dominant scan at 100 TB."""
    plan = explain(queries["q_brand_abc_xyz"](spark, SF_MID))
    assert plan.count("lineitem.parquet") == 1


def test_orders_basket_no_fact_side_smj(spark, queries):
    """Basket's brand-index join must stay a broadcast hash join on the
    fact side (the dimension carries the bit index); a rank-frame join
    loses the static size estimate and demotes the 6M-row fact join to
    a SortMergeJoin (measured +0.5 s at SF1, r14)."""
    plan = explain(queries["q_orders_basket"](spark, SF_MID))
    assert "SortMergeJoin" not in plan
    assert plan.count("lineitem.parquet") == 1


def test_tpch_q13_single_custkey_shuffle(spark, queries):
    """Q13's distribution-of-counts must shuffle customer-sized data once
    (on c_custkey); the second aggregation input is |distinct counts|
    rows. A plan that shuffles twice at fact size would double the
    dominant cost at 100 TB."""
    plan = explain(queries["q_tpch_q13"](spark, SF_MID))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_tpch_q17_no_per_row_subquery(spark, queries):
    """The rewritten 5*qty*cnt < sum predicate must plan as one per-part
    aggregate + equi-join — never a correlated per-row re-aggregation."""
    plan = explain(queries["q_tpch_q17"](spark, SF_MID))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "HashAggregate" in plan


def test_minhash_est_band_join_is_equi(spark, queries):
    """Candidate generation must be the banded EQUI join — an OR-of-bands
    condition would fall back to a nested loop (quadratic at scale)."""
    plan = explain(queries["q_minhash_est"](spark, SF_MID))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_json_flatten_stays_jvm_native(spark, queries):
    """JSON build + parse + explode must not touch Python."""
    plan = explain(queries["q_json_flatten"](spark, SF_MID))
    for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert marker not in plan


def test_salted_skew_has_two_agg_phases(spark, queries):
    """The salted plan must show both groupings (salted partial, then
    final) — i.e. the salt actually partitions the aggregation."""
    plan = explain(queries["q_agg_salted_skew"](spark, SF_MID))
    assert "xxhash64" in plan
    assert plan.count("HashAggregate") >= 2
    assert "Window" not in plan


def test_dq_checks_anti_join_is_hashed(spark, queries):
    """The orphan check must be a hash left-anti join, and the XML/JSON
    probes of the audit must not introduce a nested loop anywhere."""
    plan = explain(queries["q_dq_checks"](spark, SF_MID))
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_xml_namespaces_zero_shuffle(spark, queries):
    """Namespaced XPath extraction is a pure per-row transform — no
    Exchange may appear."""
    import re

    plan = explain(queries["q_xml_namespaces"](spark, SF_MID))
    # the widen() repartition is allowed (round-robin, local-fixture only);
    # no hash/range exchange may appear
    assert not re.search(r"hashpartitioning|rangepartitioning", plan)
    assert "BatchEvalPython" not in plan


def test_tpch_q2_min_cost_subquery_decorrelates(spark, queries):
    """Q2's correlated min-cost scalar subquery must decorrelate into an
    aggregate + equi-join on ps_partkey, and the tie-broken LIMIT must
    plan as TakeOrderedAndProject — a per-row re-execution of the costs
    CTE would re-scan lineitem once per part row."""
    plan = explain(queries["q_tpch_q2"](spark, SF_MID))
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_tpch_q11_threshold_is_single_plan_totals_fold(spark, queries):
    """Q11 r9 restructure, r14 refinement: the fraction-of-total
    threshold must NOT be a scalar subquery RE-RUNNING THE LINEITEM
    AGGREGATE (Spark plans those as a separate AdaptiveSparkPlan with no
    exchange reuse — measured 2x at sf0.1). r14 folds the total via a
    window over the bounded per-part aggregate; the only subquery left
    is the 25-row nation scalar lookup that keeps the pushed-down
    supplier semi side a statically-estimable filtered scan. The
    companion single-scan test pins that no subquery branch touches
    lineitem."""
    plan = explain(queries["q_tpch_q11"](spark, SF_MID))
    n = node_counts(plan)
    assert plan.count("lineitem.parquet") == 1  # no re-run of the fact agg
    assert "CartesianProduct" not in plan
    assert n["BroadcastNestedLoopJoin"] == 0  # window fold — no BNLJ left
    # one driving plan: the threshold branch lives inside it, not apart
    assert plan.count("== Physical Plan ==") == 1


def test_tpch_q16_not_in_is_anti_join(spark, queries):
    """Q16's NOT IN over the non-null s_suppkey must become a left-anti
    hash join (a null-aware anti join would be a nested loop)."""
    plan = explain(queries["q_tpch_q16"](spark, SF_MID))
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_dedup_spans_anchor_join_is_blocked(spark, queries):
    """The span-anchor self-join must be an equi join on shingle text
    (shuffle-blocked), never a cartesian/BNLJ — the property that keeps
    exact span dedup feasible on a lightly-duplicated 100 TB corpus."""
    plan = explain(queries["q_dedup_spans"](spark, SF_MID))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_fuzzy_join_is_variant_blocked(spark, queries):
    """The edit-distance join must be an equi join on deletion variants
    (shuffle-blocked candidate generation), never the O(n^2) levenshtein
    nested loop the oracle runs."""
    plan = explain(queries["q_join_fuzzy"](spark, SF_MID))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_bm25_broadcasts_stats_and_stays_jvm(spark, queries):
    """df + corpus stats must broadcast (tiny aggregates), and the whole
    score must be JVM builtins — no Python eval in the plan."""
    plan = explain(queries["q_text_bm25"](spark, SF_MID))
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_split_assign_is_single_aggregation(spark, queries):
    """The split manifest must be scan-side expr + one partial+final agg —
    one shuffle of at most 3 rows per task, no window, no join."""
    plan = explain(queries["q_split_assign"](spark, SF_MID))
    assert plan.count("HashAggregate") >= 2
    assert "Join" not in plan and "Window" not in plan


def test_topquality_windows_share_one_exchange(spark, queries):
    """row_number and the per-source count must share ONE
    partitionBy(source) exchange, and nothing may collapse to a single
    partition (a global sort would serialize the corpus onto one task)."""
    plan = explain(queries["q_sample_topquality"](spark, SF_MID))
    assert "SinglePartition" not in plan
    # formatted output lists each physical node once in the numbered
    # details; count Exchange node ids, not tree-art mentions
    n_exchange = sum(
        1 for l in plan.splitlines()
        if l.strip().split(" ")[-1] == "Exchange" and l.strip().startswith("(")
    )
    assert n_exchange == 1, f"expected one shared window exchange, got {n_exchange}"


def test_quality_logistic_is_scan_side(spark, queries):
    """The quality gate is per-row scalar math: zero shuffle, zero Python."""
    plan = explain(queries["q_quality_logistic"](spark, SF_MID))
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_boilerplate_has_partial_agg(spark, queries):
    """Doc-frequency mining must map-side combine before the shingle
    shuffle (partial + final HashAggregate)."""
    plan = explain(queries["q_text_boilerplate"](spark, SF_MID))
    assert plan.count("HashAggregate") >= 2
    assert "partial_count" in plan


def test_decontaminate_frac_single_grouped_pass(spark, queries):
    """Both counts must come from ONE groupBy over the marker-joined
    shingle stream, with NO forced broadcast: the probe set is
    corpus-derived (every 97th doc), so the logical plan must carry no
    ResolvedHint — AQE decides from measured size (ADVICE r6). Shape-wise
    there must be no cartesian and no second join of two corpus-sized
    aggregates after the groupBy."""
    df = queries["q_decontaminate_frac"](spark, SF_MID)
    logical = df._jdf.queryExecution().analyzed().toString()
    assert "ResolvedHint" not in logical
    plan = explain(df)
    assert "CartesianProduct" not in plan
    assert plan.count("HashAggregate") >= 2


def test_snapshot_diff_full_outer_not_broadcast(spark, queries):
    """Both snapshots are table-sized: the diff must be a partitioned
    full-outer join (SMJ or shuffled hash), never broadcast (a 100 TB
    snapshot cannot broadcast) and never a nested loop."""
    df = queries["q_snapshot_diff"](spark, SF_MID)
    logical = df._jdf.queryExecution().analyzed().toString()
    assert "ResolvedHint" not in logical
    plan = explain(df)
    assert "FullOuter" in plan or "full_outer" in plan.lower()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_emb_mrl_pair_join_is_equi(spark, queries):
    """The shift-by-one pair generation must plan as an equi join (hash
    or SMJ) — never the cross product an inequality pairing would be."""
    plan = explain(queries["q_emb_mrl"](spark, SF_MID))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_zorder_manifest_single_agg_after_bounds(spark, queries):
    """The Z-value is scan-side arithmetic against 1-row broadcast
    bounds; the manifest is ONE map-side-combined aggregation and the
    fact side never collapses to a single partition."""
    plan = explain(queries["q_zorder_manifest"](spark, SF_MID))
    assert plan.count("HashAggregate") >= 2
    assert "partial_count" in plan
    assert "CartesianProduct" not in plan  # bounds attach via broadcast NLJ-free cross


def test_skew_stats_topn_is_take_ordered(spark, queries):
    """The top-10 heaviest keys must come from a distributed
    TakeOrderedAndProject over the per-key aggregate — a global window
    over |keys| rows would single-partition a dimension-sized table."""
    plan = explain(queries["q_skew_stats"](spark, SF_MID))
    assert "TakeOrderedAndProject" in plan
    assert plan.count("HashAggregate") >= 2


def test_rolling_active_spine_join_is_equi_broadcast(spark, queries):
    """DAU/WAU7: the fanned (day,user) stream must equi-join the
    calendar-bounded day spine as a BroadcastHashJoin building the SPINE
    side — never the BroadcastNestedLoopJoin the BETWEEN-range form
    planned (ADVICE r6: |days|x|daily| comparisons), and never a
    cartesian. The explode(sequence(d, d+6)) fan-out must appear as a
    Generate node (amplification exactly 7x|daily| by construction)."""
    plan = explain(queries["q_events_rolling_active"](spark, SF_MID))
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "Generate" in plan  # the explode fan-out
    # the broadcast exchange must feed the spine (the distinct-day agg),
    # not the fact side: the spine subtree is the one whose aggregate
    # groups by the spine alias `sd` alone
    assert "BroadcastExchange" in plan


def test_url_parse_is_scan_side(spark, queries):
    """URL host/path/domain extraction is per-row regex math: zero
    shuffle, zero Python, and the scan must prune to the 4 source
    columns the synthesis uses."""
    plan = explain(queries["q_url_parse"](spark, SF_MID))
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    read_schema = plan.split("ReadSchema:")[1].split("\n")[0]
    assert "text" not in read_schema  # the big column stays unread


def test_lang_mix_rebalance_broadcasts_only_the_scalar(spark, queries):
    """The mixture plan is |langs| rows x a 1-row feasible scalar: the
    counts aggregate must map-side combine, and the only join may be
    the bounded 1-row broadcast (never SMJ/cartesian of two shuffled
    sides)."""
    plan = explain(queries["q_lang_mix_rebalance"](spark, SF_MID))
    assert plan.count("HashAggregate") >= 2
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastExchange" in plan


def test_funnel_ordered_no_forced_broadcast_and_partial_mins(spark, queries):
    """Every funnel stage joins user-dimension-sized survivor sets back
    to the event stream: the logical plan must carry no broadcast hint
    (stage sets grow with users — AQE may still choose broadcast at
    test SF from measured stats), and each stage's min(ts) must
    map-side combine before its shuffle."""
    df = queries["q_events_funnel_ordered"](spark, SF_MID)
    logical = df._jdf.queryExecution().analyzed().toString()
    assert "ResolvedHint" not in logical
    plan = explain(df)
    assert "partial_min" in plan
    assert "CartesianProduct" not in plan


def test_join_interval_is_keyed_on_user(spark, queries):
    """The SCD2 lookup must hash/sort-merge on the user_id equality with
    the range predicate as a residual — never a nested loop (both sides
    are fact-sized at 100 TB), and no broadcast hint anywhere."""
    df = queries["q_join_interval"](spark, SF_MID)
    logical = df._jdf.queryExecution().analyzed().toString()
    assert "ResolvedHint" not in logical
    plan = explain(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "HashJoin" in plan or "SortMergeJoin" in plan


def test_dedup_prefix_single_hash_shuffle(spark, queries):
    """Prefix dedup is a groupBy on the 16-byte prefix hash + an equi
    join back — map-side combined, no pairwise join, no cartesian."""
    plan = explain(queries["q_dedup_prefix"](spark, SF_MID))
    assert plan.count("HashAggregate") >= 2
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_compaction_plan_window_is_manifest_sized(spark, queries):
    """The fact scan must reduce map-side to |shards| manifest rows
    BEFORE the packing window: partial+final aggregate, and the one
    single-partition window runs over the 83-row manifest (calendar-
    bounded), which the plan shows as the window AFTER the aggregate."""
    plan = explain(queries["q_compaction_plan"](spark, SF_MID))
    assert plan.count("HashAggregate") >= 2
    assert "partial_count" in plan
    assert "Window" in plan


def test_quality_rules_is_scan_side(spark, queries):
    """The rule gate is per-row scalar math: zero shuffle, zero Python."""
    plan = explain(queries["q_quality_rules"](spark, SF_MID))
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_ppl_bucket_window_is_per_lang(spark, queries):
    """CCNet-style bucketing must ntile per language — an empty window
    partition spec would serialize the corpus onto one task. (The plan's
    only SinglePartition exchanges belong to 1-row global aggregates —
    the LM's vocab size — which is fine; the check is on the WINDOW
    spec.)"""
    import re

    plan = explain(queries["q_ppl_bucket"](spark, SF_MID))
    specs = re.findall(r"windowspecdefinition\((\w+)#", plan)
    assert specs and all(s == "lang" for s in specs), specs


def test_rfm_windows_are_per_segment(spark, queries):
    """All three RFM ntiles run within c_mktsegment partitions — never a
    global sort over |customers|. The 1-row max-date scalar attach is
    the only SinglePartition aggregate allowed."""
    import re

    plan = explain(queries["q_orders_rfm"](spark, SF_MID))
    assert plan.count("ntile") >= 3
    specs = re.findall(r"windowspecdefinition\((\w+)#", plan)
    assert specs and all(s == "c_mktsegment" for s in specs), specs
    assert "CartesianProduct" not in plan


def test_dedup_degree_two_grouped_passes(spark, queries):
    """Degree histogram is two map-side-combined aggregations over the
    pair list — no pairwise join beyond the (already-blocked) pair
    generation, no cartesian."""
    plan = explain(queries["q_dedup_degree"](spark, SF_MID))
    assert plan.count("HashAggregate") >= 4  # partial+final x two levels
    assert "CartesianProduct" not in plan


def test_cms_sketch_is_bounded_broadcast(spark, queries):
    """The merged CMS (<= 2048 cells, constant) broadcasts to the probe
    join; the token stream must reduce map-side before the cell shuffle
    and never sort-merge against the probes."""
    plan = explain(queries["q_sketch_cms"](spark, SF_MID))
    assert plan.count("HashAggregate") >= 2
    assert "partial_count" in plan
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_tpch_q1_scan_bound_partial_agg(spark, queries):
    """Q1 must push its shipdate filter to the parquet scan and collapse
    rows map-side (partial+final HashAggregate) — scan-bound at 100 TB."""
    plan = explain(queries["q_tpch_q1"](spark, SF_MID))
    assert "PushedFilters:" in plan
    pushed = plan.split("PushedFilters:")[1].split("\n")[0]
    assert "l_shipdate" in pushed
    assert plan.count("HashAggregate") >= 2
    assert "partial_sum" in plan


def _n_exchanges(plan: str) -> int:
    """Count physical (Broadcast)Exchange NODES in a formatted plan —
    each node prints twice (tree line + numbered section), so a raw
    substring count over-reports by 2x."""
    import re

    return len(re.findall(r"\(\d+\) (?:Broadcast)?Exchange", plan))


def test_corr_matrix_single_pass_no_join(spark, queries):
    """The correlation matrix is ONE map-side-combined aggregation: a
    single exchange (to one final partition), no join anywhere, and the
    pair expansion happens on the 1-row result."""
    plan = explain(queries["q_agg_corr_matrix"](spark, SF_MID))
    assert "Join" not in plan
    assert _n_exchanges(plan) == 1
    assert plan.count("HashAggregate") >= 2  # partial + final


def test_skyline_one_partition_no_self_join(spark, queries):
    """The skyline re-expression must be windows over ONE p_brand hash
    partitioning — never the oracle's O(n^2) self-join shape."""
    plan = explain(queries["q_part_skyline"](spark, SF_MID))
    assert "Join" not in plan
    assert "CartesianProduct" not in plan
    assert _n_exchanges(plan) == 1
    assert "hashpartitioning(p_brand" in plan
    assert plan.count("Window") >= 2  # both frontier windows, same partition


def test_cohort_no_forced_broadcast(spark, queries):
    """Both cohort join sides are fact-sized at 100 TB: the plan must not
    carry a broadcast hint (AQE's small-SF broadcast choice is stats-driven
    and reverses at scale; a hint does not) and never a nested loop. The
    exchange budget is 4: fact/agg custkey partitioning, the countDistinct
    expand, and the final months-matrix shuffle."""
    df = queries["q_orders_cohort"](spark, SF_MID)
    logical = df._jdf.queryExecution().analyzed().toString()
    assert "ResolvedHint" not in logical
    plan = explain(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert _n_exchanges(plan) <= 4


def test_sessionize_single_user_partitioning(spark, queries):
    """Sessionization's lag window, running session-id sum, and final
    groupBy must share one user_id hash partitioning — a single fact
    shuffle, no join, no global sort."""
    plan = explain(queries["q_events_sessionize"](spark, SF_MID))
    assert "Join" not in plan
    assert _n_exchanges(plan) == 1
    assert "hashpartitioning(user_id" in plan


def test_anomaly_no_forced_broadcast_two_passes(spark, queries):
    """The z-score scan is two map-side-combined aggregations joined on
    the bounded type key — hint-free (AQE broadcasts the |types|-row
    stats side; a hint would force it), never a nested loop."""
    df = queries["q_events_anomaly"](spark, SF_MID)
    logical = df._jdf.queryExecution().analyzed().toString()
    assert "ResolvedHint" not in logical
    plan = explain(df)
    assert "CartesianProduct" not in plan
    assert plan.count("HashAggregate") >= 2


def test_zipf_topn_is_take_ordered(spark, queries):
    """The top-1000 term selection must be a distributed TakeOrdered,
    never a global sort of the term table."""
    plan = explain(queries["q_text_zipf"](spark, SF_MID))
    assert "TakeOrderedAndProject" in plan


def test_cosine_hist_probe_broadcast_bounded_agg(spark, queries):
    """The probe side is a constant-size broadcast (linear probes x n
    pair count — the knn shape) and the histogram collapses map-side
    onto <= 20 cells before its shuffle."""
    plan = explain(queries["q_emb_cosine_hist"](spark, SF_MID))
    assert "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan
    assert plan.count("HashAggregate") >= 2


def test_triangles_joins_are_equi(spark, queries):
    """Triangle counting must be equi joins over the oriented pair list —
    never a nested-loop/cartesian path enumeration."""
    plan = explain(queries["q_graph_triangles"](spark, SF_MID))
    assert "CartesianProduct" not in plan


def test_hive_partitioned_read_prunes_partitions(spark, queries):
    """A lang filter over the partitionBy(lang) tree must become a
    PartitionFilter — pruned at the file-listing level, so other
    partitions' data files are never opened."""
    from xml_processor_spark.io import scratch_dir

    # Run the operator once so the partitioned tree exists (the path is
    # asked for first: the call empties the dir the operator then fills).
    path = scratch_dir("q_src_hive_partitioned", SF_MID)
    queries["q_src_hive_partitioned"](spark, SF_MID).count()
    import pyspark.sql.functions as F

    df = spark.read.parquet(path).filter(F.col("lang") == "en")
    plan = explain(df)
    assert "PartitionFilters" in plan
    part = plan.split("PartitionFilters:")[1].split("\n")[0]
    assert "lang" in part


def test_asof_tolerance_keyed_no_cartesian(spark, queries):
    """The tolerance as-of pair search must join equi on user_id (range
    bound as residual) and the winner join back equi on purchase_id —
    never a nested loop over purchases x views."""
    plan = explain(queries["q_join_asof_tolerance"](spark, SF_MID))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_basket_pairs_generated_in_group_no_self_join(spark, queries):
    """Pair generation happens inside the order group (r13: per-order
    bit_or brand MASK -> per-distinct-mask higher-order pair expansion):
    exactly ONE join in the plan (the lineitem-part key join), plus a
    Generate — never a self-join of the (order, brand) projection and
    never a nested loop."""
    import re

    plan = explain(queries["q_orders_basket"](spark, SF_MID))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Generate" in plan
    # one join node: lineitem x part
    assert len(re.findall(r"\(\d+\) \w*HashJoin|\(\d+\) SortMergeJoin", plan)) == 1


def test_basket_array_fallback_past_63_brands(spark, queries, tmp_path):
    """Brand domains past 63 overflow the int64 bitmask; the operator must
    take the array<int> brand-set plan (collect_set -> sort_array -> group
    by the array) and still produce the oracle's pair counts (VERDICT r14
    #5 — the old guard hard-failed with a recommendation to use a plan
    that did not exist). Synthetic 70-brand dimension, expected pairs
    recomputed independently in Python."""
    import itertools

    import pyarrow as pa
    import pyarrow.parquet as pq

    from xml_processor_spark.operators.commerce import q_orders_basket

    n_brands, n_parts, n_orders = 70, 140, 50
    part = pa.table({
        "p_partkey": pa.array(range(n_parts), type=pa.int64()),
        "p_brand": pa.array(
            [f"Brand#{i % n_brands:02d}" for i in range(n_parts)]),
    })
    lines = []
    for o in range(n_orders):
        for pk in (o % n_parts, (o * 3 + 1) % n_parts,
                   (o * 7 + 2) % n_parts, (o * 11 + 3) % n_parts):
            lines.append((o, pk))
    li = pa.table({
        "l_orderkey": pa.array([a for a, _ in lines], type=pa.int64()),
        "l_partkey": pa.array([b for _, b in lines], type=pa.int64()),
    })
    pq.write_table(part, str(tmp_path / "part.parquet"))
    pq.write_table(li, str(tmp_path / "lineitem.parquet"))

    brand_of = {i: f"Brand#{i % n_brands:02d}" for i in range(n_parts)}
    expected: dict[tuple[str, str], int] = {}
    for o in range(n_orders):
        bset = sorted({brand_of[pk] for pk in
                       (o % n_parts, (o * 3 + 1) % n_parts,
                        (o * 7 + 2) % n_parts, (o * 11 + 3) % n_parts)})
        for a, b in itertools.combinations(bset, 2):
            expected[(a, b)] = expected.get((a, b), 0) + 1
    total = sum(expected.values())

    df = q_orders_basket(spark, str(tmp_path))
    plan = explain(df)
    assert "CartesianProduct" not in plan
    assert "collect_set" in plan  # the array plan, not the bitmask
    got = {(r["brand_a"], r["brand_b"]): (r["n_orders"], r["share"])
           for r in df.collect()}
    assert {k: v[0] for k, v in got.items()} == expected
    for k, (n, share) in got.items():
        assert abs(share - n / total) < 1e-6, (k, share, n / total)


def test_backlog_window_is_post_aggregation(spark, queries):
    """The cumulative open_at_end window runs over the |months| aggregate:
    the plan must aggregate (partial + final) BEFORE the single-partition
    window, and no join may appear (the +1/-1 event encoding replaces the
    interval join entirely)."""
    plan = explain(queries["q_orders_backlog"](spark, SF_MID))
    assert "Join" not in plan  # no interval/self join of any kind
    assert plan.count("HashAggregate") >= 2  # map-side combine
    # window sorts only the aggregated months, fed by a SinglePartition
    # exchange placed AFTER the aggregation
    assert "Window" in plan and "SinglePartition" in plan


def test_convert_single_user_agg_no_self_join(spark, queries):
    """Conversion delay must be ONE per-user aggregate with FILTERed mins
    — no event-level self-join — and the histogram windows run over the
    bucket aggregate."""
    plan = explain(queries["q_events_convert"](spark, SF_MID))
    assert "Join" not in plan
    assert plan.count("HashAggregate") >= 2
    assert "partial_min" in plan  # map-side combined firsts


def test_ewma_explodes_days_not_events(spark, queries):
    """The forward-explode must sit ABOVE the daily aggregation (8 rows
    per day, not per event), and the off=0 real-day marker means NO join
    back to the day spine — the whole query is two hash aggregations and
    one Generate, nothing else."""
    plan = explain(queries["q_events_ewma"](spark, SF_MID))
    assert "Generate" in plan
    assert "Join" not in plan
    # The explode consumes the aggregated daily rows: in the formatted
    # tree (printed leaves-last within a chain) Generate's child is the
    # daily HashAggregate, so the first Generate occurrence in the
    # indented tree sits ABOVE (before) at most two of the four
    # HashAggregate lines. Assert via the tree section ordering: the
    # deepest HashAggregate pair feeds Generate.
    tree = plan.split("(1) Scan")[0]
    gen_line = next(l for l in tree.splitlines() if "Generate" in l)
    agg_lines = [l for l in tree.splitlines() if "HashAggregate" in l]
    # two aggregates are deeper (more indented) than Generate: the daily agg
    deeper = [l for l in agg_lines if len(l) - len(l.lstrip(" :+-")) > len(gen_line) - len(gen_line.lstrip(" :+-"))]
    assert len(deeper) >= 2, f"daily agg not below Generate:\n{tree}"


def test_maxsim_is_single_projection_no_python(spark, queries):
    """The 8x8 interaction matrix must be one JVM higher-order-function
    projection: no Python evaluation, no extra aggregate between the
    broadcast probe join and the top-k window."""
    plan = explain(queries["q_emb_maxsim"](spark, SF_MID))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "BroadcastNestedLoopJoin" in plan  # probe x candidate, BuildLeft
    assert "BuildLeft" in plan  # the tiny probe side is the build side
    # score needs no groupBy: the only aggregates allowed are none at all
    assert "HashAggregate" not in plan


def test_twap_window_and_agg_share_partitioning(spark, queries):
    """TWAP's lead window and final groupBy share the (user_id, day) hash
    partitioning: exactly ONE fact-side Exchange, and no join."""
    plan = explain(queries["q_events_twap"](spark, SF_MID))
    assert "Join" not in plan
    # one shuffle for the window; the groupBy reuses its partitioning
    # (partial/final HashAggregate pair sits above the Window, no second
    # hashpartitioning of the fact table)
    assert n_exchanges(plan) == 1


def test_dow_profile_single_fact_pass(spark, queries):
    """The per-type totals must come from windows over the <=35-row cell
    aggregate — one scan, one groupBy, no join back to events."""
    import re

    plan = explain(queries["q_events_dow_profile"](spark, SF_MID))
    assert "Join" not in plan
    # exactly one scan node (formatted output lists each node in the tree
    # header AND the detail section — count detail ids)
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1
    assert plan.count("HashAggregate") >= 2  # map-side combined cells


def test_pagerank_iterations_are_equi_joins(spark, queries):
    """Every power-iteration join (edges x ranks, deg x incoming) must be
    an equi hash/broadcast join over the checkpointed edge list — no
    nested loop anywhere, and the top-20 uses distributed TakeOrdered."""
    plan = explain(queries["q_graph_pagerank"](spark, SF_MID))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "TakeOrderedAndProject" in plan


def test_keywords_window_is_per_doc(spark, queries):
    """The keyword top-k window partitions by doc_id (no global sort) and
    the whole pipeline stays JVM-side."""
    plan = explain(queries["q_text_keywords"](spark, SF_MID))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # a partitioned window sorts within hashpartitioning(doc_id...), never
    # a SinglePartition exchange feeding the Window
    import re

    win_sorts = re.findall(r"Sort \(\d+\)", plan)
    assert win_sorts, "expected a window sort"
    assert "CartesianProduct" not in plan


def test_dup_rate_counts_are_map_side(spark, queries):
    """Both KPI counts must be partial-aggregated (map-side combined) and
    the final join of the two 1-row aggregates broadcast."""
    plan = explain(queries["q_docs_dup_rate"](spark, SF_MID))
    assert plan.count("HashAggregate") >= 4  # partial+final x two counts
    assert "CartesianProduct" not in plan or "BroadcastNestedLoopJoin" in plan


def test_abc_windows_over_brand_aggregate(spark, queries):
    """The ABC windows and classification run over the <=25-brand
    aggregate: the fact-side work is one partial+final groupBy; the
    SinglePartition window exchange sits above it."""
    plan = explain(queries["q_orders_abc"](spark, SF_MID))
    assert plan.count("HashAggregate") >= 2
    assert "SinglePartition" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_churn_single_user_agg_and_scalar_broadcast(spark, queries):
    """Churn is one per-user aggregate plus a 1-row corpus-max broadcast
    — the cross join must be the broadcast of the scalar, nothing else."""
    plan = explain(queries["q_events_churn"](spark, SF_MID))
    assert "partial_max" in plan  # map-side combined last-seen & corpus max
    assert "BroadcastNestedLoopJoin" in plan  # 1-row scalar x users
    assert "CartesianProduct" not in plan


def test_readability_is_scan_side(spark, queries):
    """Readability is a pure projection: zero shuffles, zero Python."""
    plan = explain(queries["q_text_readability"](spark, SF_MID))
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_emb_outliers_is_takeordered_no_join(spark, queries):
    """After the bounded centroid constant is folded in, the outlier scan
    is one projection + distributed TakeOrdered: no join, no Python."""
    plan = explain(queries["q_emb_outliers"](spark, SF_MID))
    assert "Join" not in plan
    assert "TakeOrderedAndProject" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_markov_iterations_over_constant_matrix(spark, queries):
    """The heavy step is the ONE windowed transition count; each power
    iteration joins over the <=25-cell checkpointed matrix — no nested
    loop anywhere, and the final normalization window is over <=|types|
    rows."""
    plan = explain(queries["q_events_markov"](spark, SF_MID))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_pmi_pairs_generated_in_group(spark, queries):
    """PMI pair generation is the basket pattern: session types collected
    per (user, day), pairs expanded by a higher-order expression — a
    Generate must appear and the only joins are the bounded per-type
    count broadcasts (hash joins), never a session-level self-join
    (which would show as a join keyed on user_id+d)."""
    plan = explain(queries["q_events_pmi"](spark, SF_MID))
    assert "Generate" in plan
    assert "CartesianProduct" not in plan
    # the three lookup joins are broadcast-hash on bounded sides
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_trend_ols_single_fact_pass_and_scalar_broadcast(spark, queries):
    """The regression runs over the |types×days| aggregate: one
    partial+final fact groupBy, the min-day spine folded in as a 1-row
    broadcast (BNLJ of a scalar), and no second fact scan."""
    plan = explain(queries["q_trend_ols"](spark, SF_MID))
    assert plan.count("HashAggregate") >= 2
    assert "BroadcastNestedLoopJoin" in plan  # 1-row min-day spine
    assert "CartesianProduct" not in plan


def test_autocorr_neighbor_join_is_equi(spark, queries):
    """Consecutive-day pairing must be an equi join on (type, day index)
    over the daily aggregate — never a nested loop (which would be
    |days|² per type)."""
    plan = explain(queries["q_events_autocorr"](spark, SF_MID))
    assert "CartesianProduct" not in plan
    # the only BNLJs allowed are the two 1-row spine broadcasts (each
    # node appears twice in formatted output: tree line + details block)
    assert plan.count("BroadcastNestedLoopJoin") <= 4
    assert "HashJoin" in plan or "SortMergeJoin" in plan
    # the daily aggregate is pinned (localCheckpoint): the neighbor join
    # reads the bounded checkpoint, not a re-derived fact scan per alias
    assert "Scan parquet" not in plan


def test_peaks_neighbor_joins_are_equi(spark, queries):
    """Both x±1 neighbor joins run over the daily aggregate as equi
    joins; day gaps disqualify rows via join misses, not via a scan."""
    plan = explain(queries["q_events_peaks"](spark, SF_MID))
    assert "CartesianProduct" not in plan
    assert "HashJoin" in plan or "SortMergeJoin" in plan


def test_gini_pair_work_is_post_aggregation(spark, queries):
    """The 513² bucket-pair cross join must sit ABOVE the per-customer
    and per-bucket aggregates: every nested-loop join in the plan has an
    aggregate (not a raw scan) on both sides, so the quadratic work is
    constant-size at any sf."""
    plan = explain(queries["q_spend_gini"](spark, SF_MID))
    # the ≤513-row bucket table is pinned (localCheckpoint): the final
    # plan's quadratic stage reads the checkpoint only — zero fact scans
    # above the pin, so the 513² pair work is constant-size at any sf
    assert "Scan parquet" not in plan
    assert plan.count("HashAggregate") >= 2  # tot + mad moments
    assert "CartesianProduct" not in plan


def test_interarrival_window_is_per_customer(spark, queries):
    """The gap lag() partitions by customer — the plan's first window
    exchange is hashpartitioning(o_custkey), never SinglePartition over
    the fact table; the only SinglePartition windows run over the ≤13-row
    histogram."""
    plan = explain(queries["q_orders_interarrival"](spark, SF_MID))
    assert "hashpartitioning(o_custkey" in plan
    assert plan.count("HashAggregate") >= 2


def test_first_touch_shuffles_share_user_key(spark, queries):
    """First-touch window and the purchase-distinct both hash-partition
    on user_id so the left join is co-partitioned — no nested loop."""
    plan = explain(queries["q_events_first_touch"](spark, SF_MID))
    assert "hashpartitioning(user_id" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_ship_lag_fact_fact_join_is_equi(spark, queries):
    """lineitem x orders must join on their natural key (hash or
    sort-merge, co-partitionable by bucketing at scale) — never a
    nested loop; the two dimension joins broadcast."""
    plan = explain(queries["q_ship_lag"](spark, SF_MID))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan or \
        plan.count("BroadcastHashJoin") >= 3


def test_revenue_dashboard_windows_share_one_exchange(spark, queries):
    """Three frames (running, MA3, lag) share partitioning+ordering, so
    Catalyst must collapse them into ONE Window operator above one
    SinglePartition exchange over the |months| aggregate."""
    plan = explain(queries["q_revenue_dashboard"](spark, SF_MID))
    assert plan.count("SinglePartition") == 1
    assert plan.count("HashAggregate") >= 2  # partial+final monthly rollup


def test_seasonal_window_is_post_aggregation(spark, queries):
    """The 12-month frame runs over the monthly aggregate: exactly one
    SinglePartition exchange, sitting above partial+final aggregation."""
    plan = explain(queries["q_orders_seasonal"](spark, SF_MID))
    assert plan.count("SinglePartition") == 1
    assert plan.count("HashAggregate") >= 2


def test_kmv_branches_reuse_the_pinned_distinct(spark, queries):
    """The (side, h) distinct is pinned: the final plan must read the
    checkpoint for ALL THREE branches (sketch, per-side exacts, union
    exact) — zero parquet scans — and the only SinglePartition work is
    the bounded stage-2/union top-k, never the fact."""
    plan = explain(queries["q_kmv_union"](spark, SF_MID))
    assert "Scan parquet" not in plan
    assert "CartesianProduct" not in plan


def test_js_divergence_pair_work_is_post_checkpoint(spark, queries):
    """The |langs|^2 x |alphabet| pair grid must be built from the pinned
    char aggregate: zero parquet scans in the final plan."""
    plan = explain(queries["q_text_js_divergence"](spark, SF_MID))
    assert "Scan parquet" not in plan
    assert "CartesianProduct" not in plan


def test_charmix_is_single_pass_scan_side(spark, queries):
    """Char-class shares come from regex strip-and-measure in the scan
    projection: one aggregate, no explode (Generate), no Python."""
    plan = explain(queries["q_source_charmix"](spark, SF_MID))
    assert "Generate" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert plan.count("HashAggregate") >= 2


def test_kmeans_assignments_are_broadcast_and_bounded(spark, queries):
    """Both Lloyd assignment stages must be broadcast nested-loop joins
    BUILDING the k-row centroid side — a shuffle or a build-side flip to
    the vector scan would make each round a corpus-sized materialization
    at 100 TB. The update shuffle is k*dim cells, so HashAggregate with a
    partial stage must be present too."""
    plan = explain(queries["q_emb_kmeans"](spark, SF_MID))
    assert plan.count("BroadcastNestedLoopJoin") >= 2
    assert "CartesianProduct" not in plan
    assert plan.count("HashAggregate") >= 2


def test_winnowing_window_is_per_doc_and_no_join(spark, queries):
    """The winnowing min runs in a window partitioned by doc_id (skew =
    max doc length, never corpus size) and the whole operator is
    join-free — fingerprint selection is a pure scan+window pipeline."""
    plan = explain(queries["q_text_winnowing"](spark, SF_MID))
    assert "Join" not in plan
    assert "windowspecdefinition(doc_id" in plan, (
        f"no doc_id-partitioned Window in plan:\n{plan}"
    )


def test_dedup_scrub_shared_mark_is_single_pass_window(spark, queries):
    """r15: the shared-segment mark is min(doc)==max(doc) over the
    md5-hash window — ONE pass over the segment stream, no
    countDistinct aggregate and no join back (the old equi-join shape
    recomputed the scan→explode→md5 subtree on both sides and sorted
    both on h at volume)."""
    plan = explain(queries["q_dedup_scrub"](spark, SF_MID))
    assert "Join" not in plan
    # Catalyst pre-projects the partition key as _w0 = md5(seg); pin that
    # a Window node runs over that md5 projection.
    assert "windowspecdefinition" in plan, f"no Window in plan:\n{plan}"
    assert "md5(cast(seg" in plan, f"window key is not md5(seg):\n{plan}"
    # one fact scan only — the join shape read documents twice
    assert plan.count("Scan parquet") <= 2  # tree line + detail block


# --- r8: plan pins for the 8 operators added in the final r7 commits
# (VERDICT r7 #4). Node counts come from the formatted details blocks
# ("(id) OpName"), so tree-line duplication never inflates them.


def node_counts(plan: str):
    import re
    from collections import Counter

    return Counter(m.group(1) for m in re.finditer(r"^\((?:\d+)\) ([A-Za-z]+)", plan, re.M))


def test_union_by_name_is_one_union_one_agg(spark, queries):
    """Schema-evolution union: two snapshot scans feed ONE Union and one
    partial+final per-source aggregate — no join anywhere (a positional
    union mis-bind would surface as extra projects/joins, not here)."""
    plan = explain(queries["q_union_by_name"](spark, SF_MID))
    n = node_counts(plan)
    assert n["Union"] == 1
    assert "Join" not in plan
    assert n["Exchange"] <= 1  # the single rollup shuffle
    assert "partial_count" in plan or "partial_sum" in plan


def test_hhi_is_two_cascaded_aggs_no_join(spark, queries):
    """Supplier HHI: (part, supp) aggregate then part aggregate — two
    map-side-combined shuffles bounded by the distinct pair count, and
    never a join (a supplier-share self-join would be the scale bug)."""
    plan = explain(queries["q_part_supplier_hhi"](spark, SF_MID))
    n = node_counts(plan)
    assert "Join" not in plan
    assert n["HashAggregate"] >= 4  # two partial+final pairs
    assert n["Exchange"] <= 2
    assert "partial_sum" in plan


def test_welch_ttest_is_one_fact_aggregate(spark, queries):
    """Welch t: ONE map-side-combined 2-group moment aggregate; all test
    math runs over the 2-row result (second exchange merges 2 rows)."""
    plan = explain(queries["q_orders_welch_ttest"](spark, SF_MID))
    n = node_counts(plan)
    assert "Join" not in plan
    assert n["Scan"] == 1  # single fact pass
    assert n["Exchange"] <= 2
    assert "partial_sum" in plan


def test_ks_binned_windows_are_post_histogram(spark, queries):
    """Binned KS: the only unbounded-input stage is the histogram
    aggregate (partial+final); the cumulative/global windows run over the
    <= 51-row histogram — their single-partition exchange is the intended
    plan, not a scale hazard. No join anywhere."""
    plan = explain(queries["q_orders_ks_binned"](spark, SF_MID))
    n = node_counts(plan)
    assert "Join" not in plan
    assert n["Scan"] == 1
    assert "partial_count" in plan or "partial_sum" in plan
    assert n["Window"] >= 1


def test_cusum_fact_shuffle_once_then_bounded(spark, queries):
    """CUSUM: one fact shuffle onto |types x days| cells; the per-type
    cumulative window sorts WITHIN type partitions; the only nested-loop
    joins are the 1-row scalar broadcasts (n, total, sigma bound)."""
    plan = explain(queries["q_events_cusum"](spark, SF_MID))
    n = node_counts(plan)
    assert "CartesianProduct" not in plan
    assert n["BroadcastNestedLoopJoin"] <= 2  # 1-row scalar folds only
    assert n["Window"] >= 1
    assert "partial_sum" in plan or "partial_count" in plan


def test_lateness_windows_are_keyed_no_nested_loop(spark, queries):
    """Lateness audit: running-max arrival window is keyed (never a
    global single-partition pass over the fact), the only join is the
    bounded bucket-class broadcast, and nothing nested-loops."""
    plan = explain(queries["q_events_lateness"](spark, SF_MID))
    n = node_counts(plan)
    assert "CartesianProduct" not in plan
    assert n["BroadcastNestedLoopJoin"] == 0
    assert n["Window"] >= 1
    assert "partial_count" in plan or "partial_sum" in plan


def test_calibration_is_scan_projection_plus_decile_agg(spark, queries):
    """Calibration table: score/label are scan-side expressions; ONE
    partial+final 10-row decile aggregate; no join, no Python."""
    plan = explain(queries["q_quality_calibration"](spark, SF_MID))
    n = node_counts(plan)
    assert "Join" not in plan
    assert n["Scan"] == 1
    assert n["Exchange"] <= 2
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_rare_shingle_candidates_are_blocked_equi(spark, queries):
    """Rare-shingle containment: candidates come from the df<=8 blocked
    shingle equi join (Generate = the shingle explode); bounded lookups
    broadcast-hash; NEVER an all-pairs operator."""
    plan = explain(queries["q_dedup_rare_shingle"](spark, SF_MID))
    n = node_counts(plan)
    assert "CartesianProduct" not in plan
    assert n["BroadcastNestedLoopJoin"] == 0
    assert n["Generate"] >= 1
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_mannwhitney_is_histogram_then_bounded(spark, queries):
    """Mann-Whitney U: ONE map-side-combined histogram aggregate over the
    fact scan; midrank/tie math runs over the <= 51-row histogram (its
    single-partition window is the intended plan). No join anywhere."""
    plan = explain(queries["q_orders_mannwhitney"](spark, SF_MID))
    n = node_counts(plan)
    assert "Join" not in plan
    assert n["Scan"] == 1
    assert "partial_sum" in plan or "partial_count" in plan
    assert n["Window"] >= 1


def test_spearman_grid_marginals_are_broadcast(spark, queries):
    """Spearman rho: the fact collapses to the <= 50x11 (quantity,
    discount) grid once (checkpointed, so the scan is not repeated per
    branch); both midrank marginals join back as broadcasts; the moment
    fold keeps partial aggregation. Nothing nested-loops."""
    plan = explain(queries["q_lineitem_spearman"](spark, SF_MID))
    n = node_counts(plan)
    assert n["BroadcastHashJoin"] == 2
    assert "CartesianProduct" not in plan
    assert n["BroadcastNestedLoopJoin"] == 0
    assert "partial_sum" in plan


def test_theilsen_self_join_is_broadcast_equi(spark, queries):
    """Theil-Sen: the pairwise stage self-joins the CHECKPOINTED
    |nations|x|years| calendar (fact scan runs once, not per side); the
    join is a broadcast hash join keyed on nation with the year-order
    predicate as a post-filter — never a cartesian or a fact-level
    all-pairs. Median selection windows run per-nation."""
    plan = explain(queries["q_nation_theilsen"](spark, SF_MID))
    n = node_counts(plan)
    assert n["BroadcastHashJoin"] == 1
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert n["Window"] >= 1


def test_runs_test_windows_are_post_histogram(spark, queries):
    """Runs test: one fact pass onto the calendar-bounded daily histogram
    (partial+final); sign/boundary lag windows run over that bounded
    series. No join anywhere."""
    plan = explain(queries["q_orders_runs_test"](spark, SF_MID))
    n = node_counts(plan)
    assert "Join" not in plan
    assert n["Scan"] == 1
    assert "partial_count" in plan or "partial_sum" in plan
    assert n["Window"] == 2


def test_mann_kendall_pair_join_is_bounded_broadcast(spark, queries):
    """Mann-Kendall: the monthly series is checkpointed (ONE fact scan
    feeds all four branches); the non-equi sign-pair join and the two
    scalar folds are broadcast nested loops over <= 84-row inputs — the
    bounded-BNLJ class the CUSUM pin allows, never a cartesian."""
    plan = explain(queries["q_orders_mann_kendall"](spark, SF_MID))
    n = node_counts(plan)
    assert "CartesianProduct" not in plan
    assert n["BroadcastNestedLoopJoin"] <= 3
    assert "SortMergeJoin" not in plan


def test_mahalanobis_moments_broadcast_back(spark, queries):
    """Mahalanobis audit: the 5-row per-segment moment table broadcasts
    back over the customer scan (classic two-pass standardization); the
    per-customer count join is an equi join; nothing nested-loops."""
    plan = explain(queries["q_cust_mahalanobis"](spark, SF_MID))
    n = node_counts(plan)
    assert "CartesianProduct" not in plan
    assert n["BroadcastNestedLoopJoin"] == 0
    assert n["BroadcastHashJoin"] >= 1
    assert "partial_sum" in plan


def test_bootstrap_collapses_to_32_groups(spark, queries):
    """Poisson bootstrap: the x32 Generate collapses map-side into the
    32-group resample aggregate at checkpoint time (one fact pass); the
    visible tail is the 32-row order-statistic window plus the 1-row
    point-estimate broadcast. No cartesian anywhere."""
    plan = explain(queries["q_lineitem_bootstrap"](spark, SF_MID))
    n = node_counts(plan)
    assert "CartesianProduct" not in plan
    assert n["BroadcastNestedLoopJoin"] <= 1
    assert n["Window"] == 1


def test_holt_folds_bounded_series_no_window(spark, queries):
    """Holt smoothing: the fact scan collapses map-side (partial+final
    HashAggregate) to the |days| daily aggregate; the sequential
    recurrence runs as ONE Arrow FlatMapGroupsInPandas over that bounded
    single group (|days| rows, not |events|) — strictly linear, no
    per-row window, no join, no Generate re-explosion, no per-row
    Python eval."""
    plan = explain(queries["q_events_holt"](spark, SF_MID))
    n = node_counts(plan)
    assert "Join" not in plan
    assert n["Scan"] == 1
    assert n["FlatMapGroupsInPandas"] == 1
    assert n["Generate"] == 0
    assert n["HashAggregate"] == 2  # partial + final: fact pass is map-side combined
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_decompose_spine_join_then_bounded_window(spark, queries):
    """Seasonal decomposition: hourly counts aggregate partial+final; the
    generated hour spine joins them with a broadcast hash join (bounded
    both sides); the MA frame is ONE window over the bounded grid; final
    24-row rollup. No cartesian, no nested loop."""
    plan = explain(queries["q_events_decompose"](spark, SF_MID))
    n = node_counts(plan)
    assert "CartesianProduct" not in plan
    assert n["BroadcastNestedLoopJoin"] == 0
    assert n["BroadcastHashJoin"] == 1
    assert n["Window"] == 1
    assert n["Generate"] == 1


def test_silhouette_is_one_scan_one_packed_groupby(spark, queries):
    """Silhouette: the checkpointed k-row centroid table broadcasts over
    ONE vector scan (the kmeans assignment shape); nearest/second-nearest
    come from a sort_array over packed (d2*16+c) keys in a single
    groupBy — no rank window, no self-join, no cartesian."""
    plan = explain(queries["q_emb_silhouette"](spark, SF_MID))
    n = node_counts(plan)
    assert n["BroadcastNestedLoopJoin"] == 1  # the k-row centroid cross
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert n["Window"] == 0


def test_periodogram_is_one_histogram_then_fold(spark, queries):
    """Periodogram: ONE map-side-combined daily histogram off the fact
    scan; the fixed-point DFT moments fold over the bounded series (its
    global window is the intended plan). No join anywhere."""
    plan = explain(queries["q_events_periodogram"](spark, SF_MID))
    n = node_counts(plan)
    assert "Join" not in plan
    assert n["Scan"] == 1
    assert "partial_count" in plan or "partial_sum" in plan
    assert n["Window"] == 1


def test_forecast_eval_lags_are_per_priority(spark, queries):
    """Forecast backtest: one fact shuffle onto the monthly calendar; the
    naive/snaive lags share ONE per-priority window (keyed, never
    single-partition over the fact); WAPE rollup keeps partial agg."""
    plan = explain(queries["q_orders_forecast_eval"](spark, SF_MID))
    n = node_counts(plan)
    assert "Join" not in plan
    assert n["Scan"] == 1
    assert n["Window"] == 1
    assert "partial_sum" in plan


def test_freshness_is_one_agg_with_broadcast_bound(spark, queries):
    """Freshness audit: the global high-water mark is a 1-row broadcast
    folded into ONE map-side-combined per-type aggregate — two fact
    passes total (bound + audit), no shuffle beyond |types| cells."""
    plan = explain(queries["q_events_freshness"](spark, SF_MID))
    n = node_counts(plan)
    assert "CartesianProduct" not in plan
    assert n["BroadcastNestedLoopJoin"] == 1  # the 1-row bound
    assert "partial_count" in plan or "partial_min" in plan or "partial_max" in plan or "partial_sum" in plan


def test_partition_skew_is_one_expand_pass(spark, queries):
    """Skew advisor: GROUPING SETS = ONE scan + ONE Expand feeding a
    single partial+final aggregate (never three scans); ranking windows
    run keyed-per-layout over the bounded partition table."""
    plan = explain(queries["q_partition_skew"](spark, SF_MID))
    n = node_counts(plan)
    assert "Join" not in plan
    assert n["Scan"] == 1
    assert n["Expand"] == 1
    assert "partial_count" in plan or "partial_sum" in plan


def test_burstiness_is_two_cascaded_aggs(spark, queries):
    """Burstiness: (type, day) histogram then |types|-row moment rollup —
    two cascaded map-side-combined aggregates, no window, no join."""
    plan = explain(queries["q_events_burstiness"](spark, SF_MID))
    n = node_counts(plan)
    assert "Join" not in plan
    assert n["Scan"] == 1
    assert n["Window"] == 0
    assert "partial_sum" in plan or "partial_count" in plan


def test_length_drift_marginals_broadcast(spark, queries):
    """Length drift: the (source, bin) grid is checkpointed (one corpus
    scan feeds all four branches); pooled/source/total marginals join
    back as broadcasts; the fixed-point term sum keeps partial agg."""
    plan = explain(queries["q_docs_length_drift"](spark, SF_MID))
    n = node_counts(plan)
    assert "CartesianProduct" not in plan
    assert n["BroadcastHashJoin"] >= 2
    assert n["BroadcastNestedLoopJoin"] <= 1  # the 1-row total fold
    assert "partial_sum" in plan


def test_anova_is_one_group_agg_fold(spark, queries):
    """ANOVA: ONE map-side-combined 5-group aggregate over the fact scan,
    then a 1-row fold — no join, no window, nothing nested-loops."""
    plan = explain(queries["q_orders_anova"](spark, SF_MID))
    n = node_counts(plan)
    assert "Join" not in plan
    assert n["Scan"] == 1
    assert n["Window"] == 0
    assert "partial_sum" in plan or "partial_count" in plan


def test_kruskal_bin_join_is_broadcast(spark, queries):
    """Kruskal–Wallis: one fact shuffle onto (grp, bin) cells; the
    bin-total rank join is a <=51-row broadcast; the only windows run
    post-aggregation over the bounded histogram."""
    plan = explain(queries["q_orders_kruskal"](spark, SF_MID))
    n = node_counts(plan)
    assert "CartesianProduct" not in plan
    assert n["BroadcastHashJoin"] >= 1
    assert n["BroadcastNestedLoopJoin"] <= 1  # the 1-row tie-term fold
    assert "partial_count" in plan or "partial_sum" in plan


def test_cramers_v_margins_broadcast_after_fact_join(spark, queries):
    """Cramér's V: exactly one non-broadcast join may appear (the
    orders x customer fact join — AQE may still broadcast it at small
    SF); the margin joins over the <=25-cell contingency are broadcasts;
    no cartesian product."""
    plan = explain(queries["q_orders_cramers_v"](spark, SF_MID))
    n = node_counts(plan)
    assert "CartesianProduct" not in plan
    assert n["BroadcastHashJoin"] >= 2  # rm + cm margin joins at minimum
    assert n["SortMergeJoin"] + n["ShuffledHashJoin"] <= 1  # fact join only
    assert "partial_count" in plan or "partial_sum" in plan


def test_two_proportion_single_join_then_folds(spark, queries):
    """Two-proportion z: one custkey join, one map-side-combined 2-row
    aggregate, then constant-size folds — no window, no cartesian."""
    plan = explain(queries["q_orders_two_proportion"](spark, SF_MID))
    n = node_counts(plan)
    assert "CartesianProduct" not in plan
    assert n["Window"] == 0
    assert n["SortMergeJoin"] + n["ShuffledHashJoin"] + n["BroadcastHashJoin"] == 1
    assert "partial_count" in plan or "partial_sum" in plan


def test_degree_and_triangles_read_pinned_pairs(spark, queries):
    """r8 verdict #1: q_dedup_degree (2 union legs) and q_graph_triangles
    (3 join legs + degree + edge count) consume the blocked near-dup pair
    list in multiple plan branches. The pair list is eagerly
    localCheckpointed (_ngram_pairs_pinned), so the final plans must
    contain ZERO parquet scans — every branch reads the stored pair
    partitions instead of re-deriving the shingle pipeline — and no
    nested loop anywhere."""
    for key in ("q_dedup_degree", "q_graph_triangles"):
        plan = explain(queries[key](spark, SF_MID))
        assert "Scan parquet" not in plan, key
        assert "CartesianProduct" not in plan, key
        assert "BroadcastNestedLoopJoin" not in plan or key == "q_graph_triangles", key


def test_kaplan_meier_windows_over_bucket_table(spark, queries):
    """KM: the fact work is two keyed custkey aggregates plus one custkey
    join; the high-water mark folds in as a 1-row broadcast; every window
    runs above the <=37-bucket aggregate (SinglePartition is correct
    there), and nothing is a cartesian product."""
    plan = explain(queries["q_cust_kaplan_meier"](spark, SF_MID))
    n = node_counts(plan)
    assert "CartesianProduct" not in plan
    assert n["BroadcastNestedLoopJoin"] <= 1  # the 1-row high-water fold
    assert "partial_min" in plan or "partial_max" in plan  # map-side combine
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_lifetime_one_fact_agg_one_key_join(spark, queries):
    """CLV denominators: one per-customer aggregate over orders, one
    equi join to customer, one bounded segment rollup — no window, no
    cartesian, no Python."""
    plan = explain(queries["q_cust_lifetime"](spark, SF_MID))
    n = node_counts(plan)
    assert "CartesianProduct" not in plan
    assert n["Window"] == 0
    assert n["SortMergeJoin"] + n["ShuffledHashJoin"] + n["BroadcastHashJoin"] == 1
    assert "partial_count" in plan or "partial_sum" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_collocations_token_equi_joins(spark, queries):
    """PMI collocations: pair generation is a Generate (higher-order
    expression, never a self-join on doc rows); the unigram probability
    lookups are hash equi joins on the token key; the totals fold is the
    only nested-loop (1-row broadcast)."""
    plan = explain(queries["q_text_collocations"](spark, SF_MID))
    n = node_counts(plan)
    assert "Generate" in plan
    assert "CartesianProduct" not in plan
    assert n["BroadcastNestedLoopJoin"] <= 1  # 1-row totals fold
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_vocab_overlap_joins_on_token_key(spark, queries):
    """Source-vocabulary overlap: the intersection is an equi join ON THE
    TOKEN key (never a doc-level cross join); the only nested-loop work is
    the bounded |sources|^2 grid built from the size table."""
    plan = explain(queries["q_source_vocab_overlap"](spark, SF_MID))
    n = node_counts(plan)
    assert "CartesianProduct" not in plan
    assert (
        n["SortMergeJoin"] + n["ShuffledHashJoin"] + n["BroadcastHashJoin"] >= 1
    )
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_semantic_dedup_pairs_only_within_cluster(spark, queries):
    """SemDeDup's whole point: the quadratic never leaves the cluster.
    After the r9 BLAS rewrite the pair stage is EXACTLY ONE Arrow-batched
    per-cluster kernel (FlatMapGroupsInPandas on the cluster key — its
    shuffle is |vectors| rows hash-partitioned by cluster); the only
    joins are the vec_id member join and the k-row broadcast centroid
    assignment. No corpus-level cartesian, no per-row Python eval nodes,
    and no pair-level equi self-join survives in the plan."""
    plan = explain(queries["q_dedup_semantic"](spark, SF_MID))
    n = node_counts(plan)
    assert "CartesianProduct" not in plan
    assert n["FlatMapGroupsInPandas"] == 1
    assert n["SortMergeJoin"] + n["ShuffledHashJoin"] + n["BroadcastHashJoin"] >= 1
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_dsir_two_arrow_passes_no_shuffle(spark, queries):
    """DSIR after the r12 Arrow restructure: the model pass (a fixed
    128-row per-partition histogram, driver-merged) runs at DataFrame-
    construction time, so the RETURNED plan is exactly one Arrow scoring
    pass over the corpus with the integer log-ratio table in the task
    closure — one MapInPandas, no join of any kind, no aggregate, and no
    exchange beyond the narrow-input widen repartition. Per-bigram rows
    never leave a task."""
    plan = explain(queries["q_text_dsir"](spark, SF_MID))
    n = node_counts(plan)
    assert "CartesianProduct" not in plan
    assert n["MapInPandas"] == 1
    assert (
        n["BroadcastHashJoin"]
        + n["SortMergeJoin"]
        + n["ShuffledHashJoin"]
        + n["BroadcastNestedLoopJoin"]
        == 0
    )
    assert "HashAggregate" not in plan and "SortAggregate" not in plan
    # the only allowed exchange is widen()'s round-robin repartition of
    # the single-row-group local fixture
    import re

    exchanges = re.findall(r"Exchange (\w+)", plan)
    assert all(e == "RoundRobinPartitioning" for e in exchanges), exchanges


def test_lsh_bucket_audit_never_joins(spark, queries):
    """The bucket audit must be strictly cheaper than the candidate join
    it gates: no join of any kind in the plan (the signature aggregate,
    a (band, bucket) count, and a bands-row rollup only), map-side
    combine present, no Python."""
    plan = explain(queries["q_dedup_lsh_buckets"](spark, SF_MID))
    n = node_counts(plan)
    assert n["SortMergeJoin"] + n["ShuffledHashJoin"] + n["BroadcastHashJoin"] == 0
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "partial_min" in plan or "partial_count" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_budget_fill_windows_stay_on_band_table(spark, queries):
    """The banded two-pass must keep every corpus-sized stage window-free:
    windows run over the bounded (lang, n_chars) band table and inside
    the single boundary band; the whole-band selection is a semi join by
    band key. No cartesian, no Python, map-side combine on the band
    aggregate."""
    plan = explain(queries["q_corpus_budget_fill"](spark, SF_MID))
    n = node_counts(plan)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert n["SortMergeJoin"] + n["ShuffledHashJoin"] + n["BroadcastHashJoin"] >= 2
    assert "partial_sum" in plan or "partial_count" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_unimax_windows_stay_on_domain_table(spark, queries):
    """UniMax: ONE corpus scan collapses map-side to the |domains| table;
    the water-filling windows and the capped test run on that bounded
    table only; the level and totals are 1-row broadcasts (nested-loop
    folds over a bounded side). No Python, no cartesian on data rows."""
    plan = explain(queries["q_domain_unimax"](spark, SF_MID))
    n = node_counts(plan)
    assert "CartesianProduct" not in plan
    # 1-row totals fold (appears twice: the level branch re-derives it)
    # + the 1-row level broadcast — every nested-loop side is <= 1 row.
    assert n["BroadcastNestedLoopJoin"] <= 3
    assert "partial_sum" in plan or "partial_count" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_dedup_incremental_blocks_on_token_key(spark, queries):
    """Incremental dedup, posting route (r16 posting-LIST form): the
    candidate pairs come from ONE groupBy(shingle) + per-list combo
    explode (a Generate node) with the new-batch restriction pushed into
    the combo lambda — no doc-level cross join, no candidate self-join
    at all; the only joins left are the two per-doc size lookups."""
    plan = explain(queries["q_dedup_incremental"](spark, SF_MID))
    n = node_counts(plan)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Generate" in plan  # the posting-list combo explode
    assert n["SortMergeJoin"] + n["ShuffledHashJoin"] + n["BroadcastHashJoin"] == 2
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_hard_negatives_bounded_probe_loop(spark, queries):
    """Hard-negative mining: the only nested loop is the bounded probe
    broadcast (5 rows) against the vector scan — the q_knn_cosine
    declaration; the clustering stages underneath are equi joins and the
    centroid table is a checkpointed broadcast. No corpus-level
    cartesian, no Python eval nodes."""
    plan = explain(queries["q_emb_hard_negatives"](spark, SF_MID))
    n = node_counts(plan)
    assert "CartesianProduct" not in plan
    # The bounded probe loop + the k-row centroid assignment cross join
    # (appears under both the probe and member branches) — every
    # nested-loop build side is <= max(k, n_probes) rows.
    assert n["BroadcastNestedLoopJoin"] <= 3
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_domain_temperature_single_scan_bounded_fold(spark, queries):
    """Temperature mixture: one corpus scan collapses map-side to the
    |domains| table; the only nested loop is the 1-row totals broadcast;
    the pow fixed-pointing stays JVM-side (no Python)."""
    plan = explain(queries["q_domain_temperature"](spark, SF_MID))
    n = node_counts(plan)
    assert "CartesianProduct" not in plan
    assert n["BroadcastNestedLoopJoin"] <= 1  # 1-row totals fold
    assert "partial_sum" in plan or "partial_count" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_knn_graph_pairs_only_within_lists(spark, queries):
    """The kNN-graph pair stage must be the per-list vectorized matmul
    (FlatMapGroupsInPandas on the list key) fed by the Arrow assignment
    pass (MapInPandas) — never an all-pairs operator and never a
    per-pair join: no cartesian, no nested-loop, and no equi-join
    anywhere (the r13 rewrite removed the pair-side embedding joins; the
    codebook ships in the worker closure, not as a join side)."""
    plan = explain(queries["q_emb_knn_graph"](spark, SF_MID))
    n = node_counts(plan)
    assert "CartesianProduct" not in plan
    assert n["BroadcastNestedLoopJoin"] == 0
    assert n["SortMergeJoin"] + n["ShuffledHashJoin"] + n["BroadcastHashJoin"] == 0
    assert "FlatMapGroupsInPandas" in plan  # per-list int64 BLAS matmul
    assert "MapInPandas" in plan  # Arrow assignment pass


def test_price_elasticity_single_join_then_rollup(spark, queries):
    """Grouped OLS: the fact table never joins — level-1 moments fold by
    l_partkey map-side, the |parts|-row partials broadcast-join part, and
    level 2 folds by brand (r13). Exactly ONE (broadcast) join, no window,
    no fact-table shuffle join, no Python, no cartesian."""
    plan = explain(queries["q_part_price_elasticity"](spark, SF_MID))
    n = node_counts(plan)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert n["SortMergeJoin"] + n["ShuffledHashJoin"] + n["BroadcastHashJoin"] == 1
    assert n["Window"] == 0
    assert "partial_sum" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_events_paths_single_fact_shuffle(spark, queries):
    """Path mining must ride one user_id partitioning: the lag/lead
    windows and session running sum share a single fact Exchange; the
    only nested loop is the 1-row total broadcast; no join of the fact
    table to itself, no Python."""
    plan = explain(queries["q_events_paths"](spark, SF_MID))
    n = node_counts(plan)
    assert "CartesianProduct" not in plan
    assert n["BroadcastNestedLoopJoin"] <= 1  # 1-row total fold
    assert n["SortMergeJoin"] + n["ShuffledHashJoin"] + n["BroadcastHashJoin"] == 0
    assert "partial_count" in plan or "partial_sum" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_seg_migration_one_fact_scan_keyed_pivot(spark, queries):
    """Segment migration: one orders scan feeds the (custkey, half)
    aggregate; the halves pivot is a conditional aggregation — NO join
    of any kind survives in the plan; the only nested loop is the 1-row
    bounds broadcast; no Python."""
    plan = explain(queries["q_cust_seg_migration"](spark, SF_MID))
    n = node_counts(plan)
    assert "CartesianProduct" not in plan
    assert n["BroadcastNestedLoopJoin"] <= 1  # 1-row bounds fold
    assert n["SortMergeJoin"] + n["ShuffledHashJoin"] + n["BroadcastHashJoin"] == 0
    assert "partial_sum" in plan or "partial_count" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_pysource_partition_planning_and_reregistration(spark, queries):
    """The Python Data Source must plan its declared partition count
    (distributed generation, not a single driver-side iterator), produce
    the full 2-hex-prefix bucket space, and tolerate re-registration in
    the same session (the driver re-invokes queries())."""
    from xml_processor_spark.sources.pysource import (
        _PARTS,
        _ROWS,
        SequenceDataSource,
    )

    spark.dataSource.register(SequenceDataSource)
    raw = spark.read.format("xps_seq").option("rows", _ROWS).load()
    assert raw.rdd.getNumPartitions() == _PARTS
    out1 = queries["E-PYSOURCE"](spark, SF_MID)
    out2 = queries["E-PYSOURCE"](spark, SF_MID)  # re-register, same session
    rows = out1.collect()
    assert len(rows) == 256 and len(out2.collect()) == 256
    assert sum(r.n for r in rows) == _ROWS
    assert min(r.first_id for r in rows) == 0
    assert max(r.last_id for r in rows) == _ROWS - 1


def test_attribution_user_keyed_pairing(spark, queries):
    """Linear attribution: the touch-purchase pairing is an equi join on
    user_id with the time range as a join predicate — never a cross-user
    theta/nested-loop; the per-conversion size window rides the paired
    rows; no Python."""
    plan = explain(queries["q_events_attribution_linear"](spark, SF_MID))
    n = node_counts(plan)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert n["SortMergeJoin"] + n["ShuffledHashJoin"] + n["BroadcastHashJoin"] == 1
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_supplier_scorecard_dims_join_rollup_not_fact(spark, queries):
    """Scorecard: the fact scan collapses to the supplier-keyed rollup
    BEFORE any dimension join (partial aggregation on the scan side);
    nation broadcasts; no cartesian, no Python."""
    plan = explain(queries["q_supplier_scorecard"](spark, SF_MID))
    n = node_counts(plan)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert n["BroadcastHashJoin"] >= 1  # 25-row nation side
    assert "partial_count" in plan or "partial_sum" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_xml_validate_scan_side_no_shuffle_before_agg(spark, queries):
    """Validation flags ride the scan: synthesis, parse and rule checks
    are all scalar expressions; the only shuffle is the single global
    aggregate's 1-row exchange; no Python, no join."""
    plan = explain(queries["q_xml_validate"](spark, SF_MID))
    n = node_counts(plan)
    assert n["SortMergeJoin"] + n["ShuffledHashJoin"] + n["BroadcastHashJoin"] == 0
    assert "CartesianProduct" not in plan
    assert "partial_count" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
