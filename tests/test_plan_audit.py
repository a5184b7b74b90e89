"""Physical-plan audit: assert the scale-critical plan properties hold.

Correctness says the answer is right at sf0.01; this file says the PLAN
is the one we'd want at 100 TB — filters reach the parquet scan, scans
prune columns, small dims broadcast, aggregates have a map-side partial
phase, and nothing degenerates into a cartesian product by accident.
These are exactly the properties that silently regress when a query is
refactored, and `.explain()` is the only place they're visible.
"""

from __future__ import annotations

import re
from pathlib import Path

import pytest

from project_map_reduce_spark.registry import entries


def plan_of(spark, sf_dir, name: str) -> str:
    df = entries()[name].fn(spark, sf_dir)
    return spark._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_filter_pushed_to_scan(spark, sf_dir):
    """Q03's shipdate/discount/quantity predicates must reach the parquet
    reader as PushedFilters, not run as a post-scan Filter only."""
    plan = plan_of(spark, sf_dir, "q_filter_predicate")
    m = re.search(r"PushedFilters: \[([^\]]*)\]", plan)
    assert m, plan
    pushed = m.group(1)
    assert "l_shipdate" in pushed and "l_discount" in pushed, pushed


def test_scan_prunes_columns(spark, sf_dir):
    """Q01 projects 4 columns; the scan's ReadSchema must not include the
    other 12 lineitem columns."""
    plan = plan_of(spark, sf_dir, "q_scan_project")
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m, plan
    cols = {c.split(":")[0] for c in m.group(1).split(",") if c}
    assert cols == {"l_orderkey", "l_partkey", "l_quantity", "l_extendedprice"}


def test_broadcast_join_hint_honored(spark, sf_dir):
    """Q12's explicit broadcast(part) must produce a BroadcastHashJoin."""
    plan = plan_of(spark, sf_dir, "q_join_broadcast")
    assert "BroadcastHashJoin" in plan, plan


def test_multi_join_broadcasts_small_dims(spark, sf_dir):
    """Q07 joins lineitem against orders/customer/nation/region; the tiny
    dims (nation 25 rows, region 5 rows) must go broadcast, not shuffle."""
    plan = plan_of(spark, sf_dir, "q_join_multi")
    assert plan.count("BroadcastHashJoin") >= 2, plan


def test_aggregate_is_partial_then_final(spark, sf_dir):
    """Q15 must run as partial (map-side) + final HashAggregate — the
    map-side combine that keeps the shuffle proportional to groups, not
    rows. Two HashAggregate nodes with a shuffle between them."""
    plan = plan_of(spark, sf_dir, "q_pricing_summary")
    assert len(re.findall(r"\bHashAggregate\b", plan)) >= 2, plan
    assert "Exchange" in plan, plan


def test_whole_stage_codegen_active(spark, sf_dir):
    """Q15's scan→project→agg pipeline must be inside WholeStageCodegen
    spans (JVM-side, vectorized) — no interpreted-evaluation fallback.
    (AQE finalizes codegen at runtime, so execute first and audit the
    final adaptive plan.)"""
    df = entries()["q_pricing_summary"].fn(spark, sf_dir)
    df.collect()
    plan = spark._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert "isFinalPlan=true" in plan, plan
    assert "codegen id" in plan, plan


# Queries that INTENTIONALLY contain a broadcast-nested-loop stage: a
# crossJoin against a broadcast side that is tiny by construction
# (centroid table, 1-row scalar). Everything else must be hash-joinable.
_BNLJ_ALLOWED = {
    "q_similarity_ann",
    # q_ann_pq / q_ann_pq_residual left this set in r13: their coarse
    # IVF assignment is now a driver-held-model Arrow projection
    # (similarity._cell_assigner), no crossJoin, no BNLJ.
    # q_similarity_ann keeps the 16-row centroid broadcast crossJoin —
    # the r13 A/B measured it 2× faster than the projection form at
    # sf0.1 (the assignment subtree has no training/encode consumers
    # there to amortize the Arrow crossing).
    "q_similarity_topk",
    "q_text_tfidf",
    "q_sample_temperature",  # 1-row n_min scalar broadcast into rates
    "q_heavy_hitters",  # 1-row sketch map broadcast into the top-10 judge
    "q_ks_lengths",  # sources × broadcast O(distinct-lengths) ECDF grid
}


@pytest.mark.parametrize(
    "name", sorted(n for n in entries() if n not in _BNLJ_ALLOWED)
)
def test_no_accidental_cartesian(spark, sf_dir, name):
    """No query plan may contain a CartesianProduct — the all-pairs
    degeneration every 100-TB design rule in SURVEY.md §4.2 forbids.
    (BroadcastNestedLoopJoin against a tiny literal side is whitelisted
    per-query above.)"""
    plan = plan_of(spark, sf_dir, name)
    assert "CartesianProduct" not in plan, f"{name} degenerated to all-pairs"
    assert "BroadcastNestedLoopJoin" not in plan, (
        f"{name} has an unplanned nested-loop join"
    )


def test_global_topk_is_heap_merge(spark, sf_dir):
    """Q26 must plan as TakeOrderedAndProject (per-partition k-row heaps
    merged at the driver) — never a global sort of the full table."""
    plan = plan_of(spark, sf_dir, "q_topk_global")
    assert "TakeOrderedAndProject" in plan, plan


def test_per_group_topk_uses_group_limit(spark, sf_dir):
    """Q27's rank-filter must push into the sort as WindowGroupLimit so
    each group materializes only k rows, not its full membership."""
    plan = plan_of(spark, sf_dir, "q_topk_per_group")
    assert "WindowGroupLimit" in plan, plan


def test_stratified_sample_is_shuffle_free(spark, sf_dir):
    """Q62's content-hash sampling must be a pure map-side filter — no
    Exchange anywhere in the plan (at 100 TB it rides the scan)."""
    plan = plan_of(spark, sf_dir, "q_sample_stratified")
    assert "Exchange" not in plan, plan


def test_source_quota_uses_group_limit(spark, sf_dir):
    """Q63's per-source cap must collapse to WindowGroupLimit: each
    source materializes only quota rows before the final window."""
    plan = plan_of(spark, sf_dir, "q_source_quota")
    assert "WindowGroupLimit" in plan, plan


def test_similarity_topk_partial_before_window(spark, sf_dir):
    """Q45's per-query top-k must be reduced map-side (MapInPandas heap)
    BEFORE the window's exchange — the full queries×corpus scored set
    must never be shuffled into a per-query window partition."""
    plan = plan_of(spark, sf_dir, "q_similarity_topk")
    assert "MapInPandas" in plan, plan
    # The final window still exists, but it ranks the reduced set.
    assert "Window" in plan, plan


def test_dedup_fuzzy_banded_shape(spark, sf_dir):
    """Q44's candidate generation must be the banding groupBy (shuffle
    keyed on fixed-size band keys), with signatures from one Arrow
    pandas-UDF stage — no self-join of the corpus, no cartesian."""
    plan = plan_of(spark, sf_dir, "q_dedup_fuzzy")
    assert "ArrowEvalPython" in plan, plan  # vectorized signature stage
    assert "CartesianProduct" not in plan, plan
    # banding aggregate keyed on (band, k1, k2)
    assert re.search(r"hashpartitioning\(band", plan), plan


def test_similarity_ann_cell_equijoin(spark, sf_dir):
    """Q54's search join must be an equi-join on cell_id (broadcast of
    the tiny query side), never an all-pairs score."""
    plan = plan_of(spark, sf_dir, "q_similarity_ann")
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_kmeans_assignment_is_shuffle_free_projection(spark, sf_dir):
    """Q76's final-round plan: the model is driver-held literals, so
    assignment must be a pure narrow projection — NO join of any kind,
    and the vector table is never repartitioned (no hashpartitioning on
    vec_id). The only exchanges are the O(k·d) model-update aggregations
    keyed on (cell, dim) / (cell)."""
    plan = plan_of(spark, sf_dir, "q_kmeans")
    assert "Join" not in plan, plan
    assert not re.search(r"hashpartitioning\(vec_id", plan), plan
    assert re.search(r"hashpartitioning\(cell", plan), plan


def test_pii_mask_is_shuffle_free(spark, sf_dir):
    """Q69's scrub must be a pure narrow map — regex + hash inside
    codegen, no Exchange and no Python eval anywhere (the property that
    lets the scrub ride the ingest scan at 100 TB)."""
    plan = plan_of(spark, sf_dir, "q_pii_mask")
    assert "Exchange" not in plan, plan
    assert "EvalPython" not in plan, plan


def test_decontaminate_broadcasts_probe(spark, sf_dir):
    """Q68's probe (benchmark) shingle set must broadcast into a hash
    join against the exploded corpus — never a shuffle of the corpus
    keyed on shingle, and never all-pairs."""
    plan = plan_of(spark, sf_dir, "q_decontaminate")
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_repetition_mode_is_partial_agg(spark, sf_dir):
    """Q70's bigram-mode branch must carry a map-side partial
    HashAggregate before its exchange so the shuffle is keyed on
    (doc_id, bigram) counts, not raw bigram rows."""
    plan = plan_of(spark, sf_dir, "q_repetition")
    assert len(re.findall(r"\bHashAggregate\b", plan)) >= 2, plan


def test_window_distribution_single_exchange(spark, sf_dir):
    """Q71's five window functions (ntile/percent_rank/cume_dist/
    first/last) must collapse into ONE Window operator behind ONE
    exchange + ONE sort — Catalyst's same-window-spec collapse, the
    property that makes stacking window columns free at scale."""
    plan = plan_of(spark, sf_dir, "q_window_distribution")
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1, plan
    assert len(re.findall(r"\(\d+\) Window", plan)) == 1, plan
    assert len(re.findall(r"\(\d+\) Sort", plan)) == 1, plan


def test_retention_aggregates_before_join(spark, sf_dir):
    """Q72's first-touch and active-week branches must both reduce to
    per-user/per-(user,week) aggregates BEFORE the user-keyed join —
    raw events never reach a join input."""
    plan = plan_of(spark, sf_dir, "q_events_retention")
    assert len(re.findall(r"\(\d+\) HashAggregate", plan)) >= 4, plan
    assert "CartesianProduct" not in plan, plan


def test_range_join_is_bucketed_equijoin(spark, sf_dir):
    """Q74 must plan as an equi-join whose keys include the synthetic
    __bucket column — the inequality never becomes the join condition
    alone (that would be a nested loop)."""
    plan = plan_of(spark, sf_dir, "q_join_range")
    assert "__bucket" in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_zscore_broadcasts_moments(spark, sf_dir):
    """Q83's per-type moments must broadcast back onto the event stream
    (aggregate-then-broadcast), so the z-score is computed map-side —
    the big side is never shuffled by event_type for the join."""
    plan = plan_of(spark, sf_dir, "q_zscore_outliers")
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_pack_sequences_single_shuffle(spark, sf_dir):
    """Q81 must cost exactly one exchange: the window's hash partition
    on lang. The downstream (lang, bin) aggregate reuses that
    partitioning (lang is a prefix of the grouping key), so no second
    shuffle appears."""
    plan = plan_of(spark, sf_dir, "q_pack_sequences")
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1, plan
    assert len(re.findall(r"\(\d+\) Window", plan)) == 1, plan


def test_time_rollup_is_one_pass(spark, sf_dir):
    """Q80's three grains (hour/day/total) must come from ONE scan +
    ONE Expand + partial/final aggregate — not three scans or a union
    of three aggregates."""
    plan = plan_of(spark, sf_dir, "q_time_rollup")
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1, plan
    assert len(re.findall(r"\(\d+\) Expand", plan)) == 1, plan
    assert len(re.findall(r"\(\d+\) HashAggregate", plan)) == 2, plan


def test_scalar_subquery_decorrelates(spark, sf_dir):
    """Q79's correlated subquery must decorrelate into aggregate-then-
    broadcast-join (no per-row subplan execution, no cartesian)."""
    plan = plan_of(spark, sf_dir, "q_scalar_subquery")
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_aqe_splits_skewed_join_partitions(spark):
    """SURVEY §4.2 claims AQE's skew-join split handles hot keys the
    salted operators don't cover — prove it: a join whose left side is
    99% one key must show SortMergeJoin(skew=true) with a skewed
    AQEShuffleRead in the FINAL adaptive plan (thresholds lowered so
    the fixture-scale skew crosses them)."""
    from pyspark.sql import functions as F

    tuned = {
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k) for k in tuned}
    try:
        for k, v in tuned.items():
            spark.conf.set(k, v)
        left = spark.range(200_000).select(
            F.lit(0).alias("k"), F.col("id").alias("lv")
        ).union(
            spark.range(5_000).select(
                (F.col("id") % 50 + 1).alias("k"), F.col("id").alias("lv")
            )
        )
        right = spark.range(51).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("rv")
        )
        j = left.join(right.hint("merge"), "k").select(
            F.sum("lv").alias("s")
        )
        [row] = j.collect()  # drive THIS queryExecution to the final plan
        plan = spark._jvm.PythonSQLUtils.explainString(
            j._jdf.queryExecution(), "formatted"
        )
        assert "isFinalPlan=true" in plan
        assert "SortMergeJoin(skew=true)" in plan, plan
        # the AQEShuffleRead node detail must record the skew split
        assert "skewed" in plan, plan
        # sanity: the join is still correct under the split — every left
        # row matches exactly one right row, so s = sum of all lv ids
        assert row["s"] == sum(range(200_000)) + sum(range(5_000))
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_runtime_bloom_filter_prunes_probe_side(spark, sf_dir):
    """Spark's runtime Bloom-filter injection — the mechanism that
    pre-filters a big probe side by a selective build side BEFORE the
    shuffle (SURVEY §4.2 'free from Catalyst' list) — must appear as a
    might_contain predicate on the lineitem scan side when joining
    against a brand-filtered part (thresholds opened to fixture
    scale)."""
    from pyspark.sql import functions as F

    from project_map_reduce_spark.tables import load

    tuned = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k) for k in tuned}
    try:
        for k, v in tuned.items():
            spark.conf.set(k, v)
        li = load(spark, sf_dir, "lineitem")
        part = load(spark, sf_dir, "part").filter(
            F.col("p_brand") == "Brand#1"
        )
        j = li.join(part.hint("merge"), li.l_partkey == part.p_partkey).select(
            F.sum("l_quantity").alias("q")
        )
        plan = spark._jvm.PythonSQLUtils.explainString(
            j._jdf.queryExecution(), "formatted"
        )
        assert "might_contain" in plan, plan
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_not_exists_decorrelates_to_anti_join(spark, sf_dir):
    """Q93's NOT EXISTS must compile to a LEFT ANTI join on the
    correlation key — never a per-row subquery or a nested-loop join."""
    plan = plan_of(spark, sf_dir, "q_not_exists")
    assert "LeftAnti" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_dedup_incremental_is_anti_join_on_fingerprint(spark, sf_dir):
    """Q92's batch-vs-corpus check must be an anti equi-join (hash or
    broadcast) on the md5 key, with the corpus side reduced to distinct
    fingerprints BEFORE the join — not a join against full documents."""
    plan = plan_of(spark, sf_dir, "q_dedup_incremental")
    assert "LeftAnti" in plan, plan
    assert "CartesianProduct" not in plan, plan
    # corpus side: distinct() is an aggregate somewhere below the join
    assert "HashAggregate" in plan, plan


def test_pipeline_e2e_filters_in_scan_stage(spark, sf_dir):
    """Q94's language gate must reach the parquet reader as a pushed
    filter, and columns the composed plan never uses (n_chars — and even
    doc_id, whose min() is dead code after the final projection) must be
    pruned from the scan."""
    plan = plan_of(spark, sf_dir, "q_pipeline_e2e")
    m = re.search(r"PushedFilters: \[([^\]]*)\]", plan)
    assert m and "EqualTo(lang,en)" in m.group(1), plan
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m, plan
    cols = {c.split(":")[0] for c in m.group(1).split(",") if c}
    assert "n_chars" not in cols, cols
    assert "text" in cols and "lang" in cols, cols


def test_sample_temperature_broadcasts_rates(spark, sf_dir):
    """Q97's data-dependent rates must be aggregate-then-broadcast: the
    per-source rate relation joins the corpus as a BroadcastHashJoin,
    so the corpus itself is never shuffled for membership — the only
    exchange feeds the O(sources) count aggregate."""
    plan = plan_of(spark, sf_dir, "q_sample_temperature")
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_dedup_embedding_ivf_cell_equijoin(spark, sf_dir):
    """Q99's pair stage must be keyed on the computed k-means cell id
    (hash-partitionable — since round 13 a grouped all-pairs numpy
    kernel fed by ONE cell-keyed exchange; before that an equi-join),
    never a global all-pairs score; and the assignment rounds inherit
    q_kmeans' shape — the model is broadcast as plan literals, so the
    vector table is never repartitioned by vec_id."""
    plan = plan_of(spark, sf_dir, "q_dedup_embedding_ivf")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    # test-scale: one side fits the broadcast threshold → BHJ keyed on
    # cell; at scale the same equi-join hash-partitions on cell instead
    assert "BroadcastHashJoin" in plan or re.search(
        r"hashpartitioning\(cell", plan
    ), plan
    assert not re.search(r"hashpartitioning\(vec_id", plan), plan


def test_watermark_late_returns_distributed_snapshot(spark, sf_dir):
    """Q98 (like Q90, asserted in tests/test_streaming.py) must return
    a lazy parquet read of the executor-written snapshot — driver-side
    gathers of per-window totals would violate SURVEY §4.2. Static
    check only here (the streaming test drives it end to end): the
    registered callable exists and its module has no ROW-SCALE
    collect() in the query path. Exactly ONE collect is allowed: Q163's
    manifest-verification summary (r11) — the distributed one-scan
    groupBy(part, event_type) whose output is O(parts x types) cells,
    the documented Q118/Q124 small-re-lift pattern that REPLACED a
    per-line driver readback loop; any second collect in the module is
    a regression."""
    import inspect

    from project_map_reduce_spark.plans import streaming_shaped as mod

    src = inspect.getsource(mod)
    n = src.count(".collect()")
    assert n <= 1, f"driver gather crept back into B.9 ({n} collect sites)"
    if n == 1:
        before = src[: src.index(".collect()")]
        assert 'groupBy("part", "event_type")' in before.rsplit("def ", 1)[-1], (
            "the single allowed collect moved away from Q163's "
            "O(parts x types) manifest summary"
        )


def test_finite_stream_plumbing_lives_in_the_runner():
    """Every finite stream in B.9 runs through ``_finite_stream``: the
    shuffle-partition conf is read, and a stream source is declared
    from a staged schema, only inside that runner, and no query copies
    its finished sink into a second ``out_dir`` parquet — so the
    per-query save/restore and re-write plumbing cannot creep back."""
    import inspect

    from project_map_reduce_spark.plans import streaming_shaped as mod

    src = inspect.getsource(mod)
    runner = inspect.getsource(mod._finite_stream)
    stream_cls = inspect.getsource(mod._FiniteStream)
    for needle, home in (
        ('"spark.sql.shuffle.partitions"', runner),
        ("spark.conf.get(", runner),
        ("readStream.schema(", stream_cls),
    ):
        assert src.count(needle) == 1 == home.count(needle), needle
    assert "out_dir" not in src


def test_quality_classifier_is_shuffle_free(spark, sf_dir):
    """Q102's hashed-bigram linear scoring must be a pure narrow map —
    hash + weight fold inside Catalyst HOFs, no Exchange and no Python
    eval (the property that lets model-based quality filtering ride
    the ingest scan at 100 TB, like Q69's PII scrub)."""
    plan = plan_of(spark, sf_dir, "q_quality_classifier")
    assert "Exchange" not in plan, plan
    assert "EvalPython" not in plan, plan


def test_trained_classifier_scoring_is_shuffle_free(spark, sf_dir):
    """Q106's RETURNED plan must have Q102's exact shape: the fit runs
    as separate training jobs at plan-build, the baked literal-weight
    scoring pass is a pure narrow map — no Exchange, no Python eval.
    This is the docstring claim of Q102 ('a trained model swaps the
    weight expression... plan shape identical') made checkable."""
    plan = plan_of(spark, sf_dir, "q_quality_classifier_trained")
    assert "Exchange" not in plan, plan
    assert "EvalPython" not in plan, plan


def _plan_tree(plan: str) -> str:
    """The tree block of a formatted explain (the detail section below
    repeats every node name, so counts must run on the tree only)."""
    return plan.split("\n\n")[0]


def test_attribution_is_windowed_not_joined(spark, sf_dir):
    """Q115's whole point: last-touch attribution compiles to ONE keyed
    window plus the day aggregate — exactly two hash exchanges
    (user_id, then day), NO join of any kind (the naive quadratic form
    is an interval self-join), and the window's sort is partition-local
    (no range exchange = no global sort)."""
    tree = _plan_tree(plan_of(spark, sf_dir, "q_events_attribution"))
    assert "Join" not in tree, tree
    assert tree.count("Exchange") == 2, tree
    assert "rangepartitioning" not in tree, tree
    assert "Window" in tree, tree


def test_scd2_single_exchange_no_join(spark, sf_dir):
    """Q108: UNION ALL is a free plan concat; the entire SCD2 rebuild
    hangs off ONE hash exchange on custkey — no join, no global sort
    (the per-key sort runs inside partitions)."""
    tree = _plan_tree(plan_of(spark, sf_dir, "q_scd2_merge"))
    assert tree.count("Exchange") == 1, tree
    assert "Join" not in tree, tree
    assert "rangepartitioning" not in tree, tree


def test_hll_rollup_stays_on_object_hash_path(spark, sf_dir):
    """Q116: sketch aggregation buffers must ride ObjectHashAggregate
    (the hash path for typed buffers) — SortAggregate here would sort
    the full stream per level; and the O(types) merged/direct join must
    broadcast, never shuffle."""
    tree = _plan_tree(plan_of(spark, sf_dir, "q_hll_rollup"))
    assert "ObjectHashAggregate" in tree, tree
    assert "SortAggregate" not in tree, tree
    assert "BroadcastHashJoin" in tree, tree
    assert "SortMergeJoin" not in tree, tree


def test_cdc_changelog_collapses_map_side(spark, sf_dir):
    """Q114: the struct-max winner-per-key aggregate must have a
    partial phase BEFORE its exchange (the changelog — the big side at
    100 TB — collapses to one row per key map-side), then exactly one
    full-outer join applies the merge."""
    tree = _plan_tree(plan_of(spark, sf_dir, "q_cdc_apply"))
    assert tree.count("FullOuter") == 1, tree
    # two SortAggregate phases (partial below the exchange, final above)
    assert tree.count("SortAggregate") == 2, tree
    first_agg = tree.find("SortAggregate")
    exchange_between = tree.find("Exchange", first_agg)
    assert exchange_between != -1, tree


def test_doc_chunks_has_no_keyed_exchange(spark, sf_dir):
    """Q120 is a pure narrow transform: the only Exchange allowed is
    the round-robin ingest repartition — never a hash or range
    partition, never a join, never an aggregate."""
    tree = _plan_tree(plan_of(spark, sf_dir, "q_doc_chunks"))
    assert "hashpartitioning" not in tree, tree
    assert "rangepartitioning" not in tree, tree
    assert "Join" not in tree, tree
    assert "Aggregate" not in tree, tree


def test_not_in_plans_null_aware_anti_join(spark, sf_dir):
    """Q121: the NOT IN subquery must compile to the NULL-AWARE anti
    join (the trailing isNullAware=true argument on the LeftAnti
    broadcast join — only visible in the simple plan string, the
    formatted explain elides it), not a plain anti join that would
    silently drop 3VL semantics under nullable keys."""
    df = entries()["q_not_in"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert re.search(r"LeftAnti, BuildRight, true", plan), plan


def test_driver_window_rotation_debt_bounded():
    """plans/driver_log.py is the machine-checkable rotation ledger
    (VERDICT r6 item 8): after this round's window rotation, no query
    outside the window may carry a driver hash older than the
    staleness ceiling, every in-window query must actually exist, the
    ledger must cover the registry exactly, and new-this-round queries
    must sit in the window from birth. The ceiling was renegotiated in
    round 11 (VERDICT r10 item 2): the original fixed "two rounds"
    bound requires inventory <= 3x50 and broke at 166 queries, so it
    is now computed from the live registry size —
    staleness_ceiling(N) = max(2, ceil(N/50) - 1) — which is the
    tightest bound a 50-slot window can satisfy. Since round 8
    (VERDICT r7 item 8) the ledger is also verified against the
    evidence itself: every DRIVER_ROUNDS value must equal the round
    derived from the on-disk CORRECTNESS_r*.json artifacts, so the
    dict can never drift.

    ERA-AWARE since round 13 (VERDICT r12 item 1, structural fix for
    three consecutive judge-time reds): the driver drops
    CORRECTNESS_r{CURRENT_ROUND}.json AFTER the builder's final
    commit, so at judge time in-window queries freshly re-verified
    this round derive to CURRENT_ROUND while the committed ledger
    still carries the pre-rotation cohort. That is the EXPECTED
    post-driver artifact lag — classified here as "pending rotation"
    and excluded from the drift set — so this guard is green both at
    the builder's final commit (no r{CURRENT_ROUND} artifact yet) and
    immediately after the driver's artifact drop (every moved entry
    is in-window and derives exactly to CURRENT_ROUND). Real drift —
    an out-of-window query deriving differently, or an in-window
    query deriving to anything other than its ledger round or
    CURRENT_ROUND — still fails."""
    from project_map_reduce_spark.plans import _DRIVER_WINDOW
    from project_map_reduce_spark.plans.driver_log import (
        CURRENT_ROUND,
        DRIVER_ROUNDS,
        _R12_NEW_DEFERRED,
        _R13_NEW,
        _R13_NEW_DEFERRED,
        derive_driver_rounds,
        ledger_drift,
        staleness_ceiling,
    )

    reg = set(entries())
    assert set(DRIVER_ROUNDS) == reg, (
        sorted(reg - set(DRIVER_ROUNDS)),
        sorted(set(DRIVER_ROUNDS) - reg),
    )
    window = set(_DRIVER_WINDOW)
    assert window <= reg, sorted(window - reg)
    assert len(_DRIVER_WINDOW) == 50 == len(window)
    ceiling = staleness_ceiling(len(reg))
    stale = {
        q: r
        for q, r in DRIVER_ROUNDS.items()
        if q not in window and r < CURRENT_ROUND - ceiling
    }
    assert not stale, f"rotate these into the window (ceiling={ceiling}): {stale}"
    missing_new = [q for q in _R13_NEW if q not in window]
    assert not missing_new, f"new queries must be in-window from birth: {missing_new}"
    # Overflow queries deferred from the PREVIOUS round must seat in
    # this round's window (round 12 deferred none, so the list is
    # empty this round — the assert keeps the mechanism armed).
    unseated_deferred = [q for q in _R12_NEW_DEFERRED if q not in window]
    assert not unseated_deferred, (
        f"r12-deferred queries must open the r13 window: {unseated_deferred}"
    )

    # Ledger == evidence: derive every query's last full-match round
    # straight from the driver artifacts at the repo root.
    repo_root = Path(__file__).resolve().parents[1]
    derived = derive_driver_rounds(repo_root)
    never_ok = set(_R13_NEW) | set(_R12_NEW_DEFERRED) | set(_R13_NEW_DEFERRED)
    drift = ledger_drift(DRIVER_ROUNDS, derived, window, never_ok, CURRENT_ROUND)
    assert not drift, f"ledger drifted from CORRECTNESS artifacts (ledger, derived): {drift}"
    # and every never-verified query is a declared new/deferred entry
    # (new in-window entries may already be verified if the driver's
    # r{CURRENT_ROUND} artifact has landed — that's pending rotation).
    never_verified = reg - set(derived)
    assert never_verified <= never_ok, sorted(never_verified - never_ok)
    assert all(derived.get(q) == CURRENT_ROUND for q in never_ok - never_verified), {
        q: derived.get(q) for q in never_ok - never_verified
    }


def test_ledger_guard_survives_post_commit_driver_artifact_drop():
    """The structural acceptance criterion from VERDICT r12 item 1:
    the rotation guard must be green at a HEAD that includes the
    round's driver artifacts AND green again immediately after a
    hypothetical NEW artifact drop. Simulate the drop: every in-window
    query full-matches in a synthetic CORRECTNESS_r{CURRENT_ROUND}
    artifact, advancing its derivation to CURRENT_ROUND while the
    committed ledger still carries the pre-rotation cohort. That state
    must classify as pending rotation (empty drift), while a genuinely
    wrong entry — an OUT-of-window query whose derivation moved, or an
    in-window query deriving to a round other than CURRENT_ROUND —
    must still be reported."""
    from project_map_reduce_spark.plans import _DRIVER_WINDOW
    from project_map_reduce_spark.plans.driver_log import (
        CURRENT_ROUND,
        DRIVER_ROUNDS,
        _R12_NEW_DEFERRED,
        _R13_NEW,
        _R13_NEW_DEFERRED,
        derive_driver_rounds,
        ledger_drift,
    )

    repo_root = Path(__file__).resolve().parents[1]
    window = set(_DRIVER_WINDOW)
    never_ok = set(_R13_NEW) | set(_R12_NEW_DEFERRED) | set(_R13_NEW_DEFERRED)
    # State A: artifacts as committed (pre-drop) — already asserted
    # empty by test_driver_window_rotation_debt_bounded; re-assert so
    # this test is self-contained.
    derived = derive_driver_rounds(repo_root)
    assert not ledger_drift(DRIVER_ROUNDS, derived, window, never_ok, CURRENT_ROUND)
    # State B: the driver dropped CORRECTNESS_r{CURRENT_ROUND}.json
    # after our final commit — all 50 window queries re-verified.
    post_drop = {**derived, **{q: CURRENT_ROUND for q in window}}
    assert not ledger_drift(DRIVER_ROUNDS, post_drop, window, never_ok, CURRENT_ROUND)
    # Real drift is still caught in both directions.
    out_q = next(iter(set(DRIVER_ROUNDS) - window - never_ok))
    bad = {**post_drop, out_q: CURRENT_ROUND}
    assert ledger_drift(DRIVER_ROUNDS, bad, window, never_ok, CURRENT_ROUND) == {
        out_q: (DRIVER_ROUNDS[out_q], CURRENT_ROUND)
    }
    in_q = next(iter(window - never_ok))
    bad2 = {**post_drop, in_q: CURRENT_ROUND + 1}
    assert in_q in ledger_drift(DRIVER_ROUNDS, bad2, window, never_ok, CURRENT_ROUND)
