"""Physical-plan quality gates — the 100 TB design assertions.

These keep future edits honest: predicate pushdown must reach the parquet
scan, projections must prune columns, dimension joins must broadcast, and
the ETL hot path must stay shuffle-free.  A plan regression here costs
nothing at sf0.01 but everything at 100 TB.
"""

from __future__ import annotations

import pytest as _pytest_mark_mod

#: registry-wide sweep / heavy e2e — excluded from the fast dev loop
pytestmark = _pytest_mark_mod.mark.slow

import io
from contextlib import redirect_stdout

import pytest

from logspout_kinesis_tests_spark.plans import REGISTRY


def _formatted_plan(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    plan = _formatted_plan(REGISTRY["c1_filter_pushdown"].build(spark, sf_dir))
    assert "PushedFilters" in plan
    assert "GreaterThanOrEqual(l_shipdate" in plan  # range predicate at scan
    assert "LessThan(l_quantity" in plan
    # column pruning: untouched wide columns never leave the scan
    assert "l_comment" not in plan
    assert "l_returnflag" not in plan


def test_star_join_broadcasts_dimensions(spark, sf_dir):
    plan = _formatted_plan(REGISTRY["c3_star_join_revenue"].build(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    # constant dim filter folded into the scan
    assert "EqualTo(r_name,ASIA)" in plan
    # no sort-merge join should appear while dims are broadcastable
    assert "SortMergeJoin" not in plan


def test_etl_hot_path_is_shuffle_free(spark, sf_dir):
    # A7-A13 is one projection: scan → codegen project → (sink); a shuffle
    # here would be a plan bug that throttles the streaming producer path.
    plan = _formatted_plan(REGISTRY["a13_serialize_json_v1"].build(spark, sf_dir))
    assert "Exchange" not in plan
    assert "codegen id" in plan  # whole-stage codegen covers the projection


def test_topk_uses_take_ordered(spark, sf_dir):
    # C4 must plan TakeOrderedAndProject (partial top-k per partition),
    # never a global sort of the full table.
    plan = _formatted_plan(REGISTRY["c4_topk_orders"].build(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan


def test_bucketed_join_runs_without_exchange(spark, sf_dir, tmp_path):
    """Co-located join: same-key bucketed tables must join with no shuffle
    (and no per-task sort when sortBy matches) — the write-once/join-many
    100 TB lever (sources/dataset.py::write_bucketed_table)."""
    from logspout_kinesis_tests_spark.sources.dataset import write_bucketed_table
    from logspout_kinesis_tests_spark.sources.tables import load_table

    spark.sql(f"CREATE DATABASE IF NOT EXISTS bktest LOCATION '{tmp_path}/warehouse'")
    try:
        orders = load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_custkey", "o_totalprice"
        )
        cust = load_table(spark, sf_dir, "customer").select(
            "c_custkey", "c_name", "c_acctbal"
        )
        write_bucketed_table(
            orders, "bktest.orders_b", ("o_custkey",), 8, sort_cols=("o_custkey",)
        )
        write_bucketed_table(
            cust, "bktest.customer_b", ("c_custkey",), 8, sort_cols=("c_custkey",)
        )
        ob, cb = spark.table("bktest.orders_b"), spark.table("bktest.customer_b")
        with_bucketing = ob.join(
            cb.hint("merge"), ob["o_custkey"] == cb["c_custkey"]
        )
        plan = _formatted_plan(with_bucketing)
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan  # bucket layout replaces the shuffle
        assert "Bucketed: true" in plan
        # control: the same join on raw parquet must shuffle both sides
        raw = orders.join(cust.hint("merge"), orders["o_custkey"] == cust["c_custkey"])
        assert "Exchange" in _formatted_plan(raw)
        # and the result matches the raw-parquet join
        assert with_bucketing.count() == raw.count()
    finally:
        spark.sql("DROP DATABASE IF EXISTS bktest CASCADE")


def test_spread_for_compute_is_split_aware(spark, sf_dir):
    from logspout_kinesis_tests_spark.sources.tables import load_table, spread_for_compute

    docs = load_table(spark, sf_dir, "documents")
    target = spark.sparkContext.defaultParallelism
    # single-row-group parquet -> one split -> respread to core count
    assert docs.rdd.getNumPartitions() < target
    assert spread_for_compute(docs).rdd.getNumPartitions() == target
    # already-parallel input is untouched (no extra Exchange)
    wide = docs.repartition(target + 4)
    assert spread_for_compute(wide) is wide


def test_decontamination_broadcasts_benchmark_side(spark, sf_dir):
    plan = _formatted_plan(REGISTRY["c8_decontaminate"].build(spark, sf_dir))
    # eval-sized benchmark n-grams must broadcast; corpus side never SMJs
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "Cartesian" not in plan
    # column pruning: only doc_id/text leave the documents scan
    assert "source" not in plan and "lang" not in plan


def test_sequence_packing_single_shard_shuffle(spark, sf_dir):
    df = REGISTRY["c14_sequence_packing"].build(spark, sf_dir)
    plan = _formatted_plan(df)
    assert "Window" in plan
    # per-shard cumsum: one hash exchange on the shard key, nothing else
    assert plan.count("Exchange") <= 2
    assert "Join" not in plan


def test_curation_pipeline_stays_broadcast_and_pruned(spark, sf_dir):
    plan = _formatted_plan(REGISTRY["c20_curation_pipeline"].build(spark, sf_dir))
    assert "SortMergeJoin" not in plan
    assert "Cartesian" not in plan
    assert "source" not in plan and "lang" not in plan


def test_substring_dedup_plan_shape(spark, sf_dir):
    plan = _formatted_plan(REGISTRY["c8_substring_dedup"].build(spark, sf_dir))
    # dup-key detection must partial-aggregate map-side before its shuffle
    assert "partial_count" in plan
    # marks and spans attach via broadcast joins at this scale, never BNLJ
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_token_budget_broadcasts_shard_offsets(spark, sf_dir):
    plan = _formatted_plan(REGISTRY["c14_token_budget"].build(spark, sf_dir))
    # the 256-row offset table must broadcast; the corpus must not SMJ on it
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_line_dedup_partial_aggregates_line_counts(spark, sf_dir):
    plan = _formatted_plan(REGISTRY["c8_line_dedup"].build(spark, sf_dir))
    assert "partial_count" in plan
    assert "CartesianProduct" not in plan


def test_linear_classifier_partial_aggregates_int_domain(spark, sf_dir):
    plan = _formatted_plan(REGISTRY["c11_linear_classifier"].build(spark, sf_dir))
    # token weights partial-agg map-side; the shuffle carries (id, sum, count)
    assert "partial_sum" in plan
    assert "partial_count" in plan
    # pure codegen: no Python evaluation anywhere in the plan
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan


def test_q19_pushes_disjunct_prefixes_to_scans(spark, sf_dir):
    plan = _formatted_plan(REGISTRY["tpch_q19_disjunctive_join"].build(spark, sf_dir))
    # cross-side OR can't fully push, but single-side implications must:
    # quantity BETWEEN 1 AND 30 reaches the lineitem scan, the brand/size
    # OR reaches the part scan
    assert "PushedFilters" in plan
    assert "GreaterThanOrEqual(l_quantity,1" in plan
    assert "Or(And(EqualTo(p_brand" in plan
    assert "BroadcastHashJoin" in plan


def test_q21_single_shuffle_family_on_orderkey(spark, sf_dir):
    plan = _formatted_plan(REGISTRY["tpch_q21_waiting_suppliers"].build(spark, sf_dir))
    # supplier + nation broadcast; the fact-side work shuffles on l_orderkey
    assert plan.count("BroadcastHashJoin") >= 2
    assert "CartesianProduct" not in plan


def test_tpch2_suite_never_sort_merge_joins(spark, sf_dir):
    """Q2/Q8/Q9/Q11/Q13/Q15/Q16/Q17/Q20: every dimension side fits in a
    broadcast at any scale (part/supplier/nation/region grow sub-linearly
    in TPC-H), so a SortMergeJoin or an unintended cartesian product in
    these plans is a regression.  The only non-equi joins allowed are the
    single-row scalar broadcasts (Q11 total, Q15 max, Q17 avg)."""
    for name in (
        "tpch_q2_min_cost_supplier",
        "tpch_q8_market_share",
        "tpch_q9_product_profit",
        "tpch_q11_important_parts",
        "tpch_q13_customer_distribution",
        "tpch_q15_top_supplier",
        "tpch_q16_supplier_part_counts",
        "tpch_q17_small_quantity_revenue",
        "tpch_q20_promotion_suppliers",
    ):
        plan = _formatted_plan(REGISTRY[name].build(spark, sf_dir))
        assert "SortMergeJoin" not in plan, name
        assert "CartesianProduct" not in plan, name


def test_q2_decorrelates_to_one_window_shuffle(spark, sf_dir):
    # the correlated MIN subquery must NOT re-scan the join tree: exactly
    # one lineitem scan feeds both the candidate rows and the per-part min
    plan = _formatted_plan(
        REGISTRY["tpch_q2_min_cost_supplier"].build(spark, sf_dir)
    )
    # 5 table scans (li/part/sup/nation/region); formatted explain prints
    # each node twice (tree + detail), so a re-scanned subquery would push
    # this past 10
    assert plan.count("Scan parquet") <= 10
    assert "Window" in plan


def test_header_decode_stays_jvm_side(spark, sf_dir):
    """C12 header decode: the whole synth+parse pipeline is scan-side
    expressions — no Python evaluation node, no shuffle, single codegen
    stage over the scan."""
    for name in ("c12_png_header_decode", "c12_wav_header_decode"):
        plan = _formatted_plan(REGISTRY[name].build(spark, sf_dir))
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, name
        assert "Exchange" not in plan, name
        # formatted mode marks codegen stages with a '*' node prefix
        assert "* Project" in plan, name


def test_weighted_sample_uses_take_ordered(spark, sf_dir):
    """A-ES selection must plan as TakeOrdered (per-partition top-n + driver
    merge), never a global sort of the corpus."""
    plan = _formatted_plan(REGISTRY["c14_weighted_sample"].build(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan


def test_semantic_decontaminate_never_shuffles_corpus(spark, sf_dir):
    """One non-equi broadcast ANTI join: no SMJ, no corpus Exchange — the
    materialize-then-anti-join shape got pushed into both union branches
    and ran the cosine cross join twice (fixed r3)."""
    plan = _formatted_plan(
        REGISTRY["c8_semantic_decontaminate"].build(spark, sf_dir)
    )
    assert "SortMergeJoin" not in plan
    assert "BroadcastNestedLoopJoin" in plan  # the cosine anti join itself
    # only broadcast exchanges: the corpus is never hash-repartitioned
    import re

    non_broadcast = [
        l for l in plan.splitlines()
        if re.search(r"\bExchange\b", l) and "Broadcast" not in l and "Reused" not in l
    ]
    assert not non_broadcast, non_broadcast


def test_hybrid_rrf_cuts_with_take_ordered(spark, sf_dir):
    """Both retrieval systems cut to top-N via TakeOrdered BEFORE ranking;
    the only windows run over the 200-row candidate lists."""
    plan = _formatted_plan(REGISTRY["c10_hybrid_rrf"].build(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_containment_broadcasts_benchmark(spark, sf_dir):
    plan = _formatted_plan(
        REGISTRY["c8_containment_decontaminate"].build(spark, sf_dir)
    )
    assert "BroadcastHashJoin" in plan  # shingle join keyed by xxhash64
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_no_cartesian_or_row_python_anywhere(registry_plans):
    """Repo-wide plan lint: NO registered query may plan a CartesianProduct
    (unbounded pair blowup) or a row-at-a-time Python UDF (BatchEvalPython
    — the 10-100x-slower non-Arrow path).  Broadcast nested-loop joins are
    allowed (bounded by the broadcast side); Arrow paths
    (ArrowEvalPython / MapInPandas / FlatMapGroupsInPandas) are allowed.
    Plans are built, not executed.
    """
    offenders = {}
    for name, (plan, _) in registry_plans.items():
        bad = [
            marker
            for marker in ("CartesianProduct", "BatchEvalPython")
            if marker in plan
        ]
        if bad:
            offenders[name] = bad
    assert not offenders, offenders


#: Deliberate single-partition windows over PROVABLY bounded tables — the
#: bound is a constant independent of input scale, so one task is correct.
#: Spark folds constant partition keys out of the window spec (verified on
#: 4.1.2: ``partitionBy(F.lit(0))`` still plans an empty partitionSpec), so
#: these cannot be annotated away in the plan itself; this whitelist plus
#: the lint below is the enforcement instead, and ``session.get_spark``
#: silences the per-execution WindowExec WARN noise.
ALLOWED_GLOBAL_WINDOWS = {
    "c10_hybrid_rrf": 2,  # two 200-row TakeOrdered cut lists (BM25 + dense)
    "c14_token_budget": 1,  # ≤256-row shard-offset prefix-sum table
    "c2_chi_squared": 1,  # grand total over the types×cohorts cell table
    "c2_pareto_share": 1,  # running share over one row per event_type
    "c2_ks_test": 1,  # ≤256-row bucket-offset prefix-sum table
    "c2_mann_whitney": 1,  # ≤256-row bucket-offset prefix-sum table
    "c11_zipf_slope": 1,  # rank over the 100-row TakeOrdered term cut
    # ≤256-row bucket-offset prefix table; planned twice because the tiny
    # located-targets subtree feeds both the bucket filter and the rank join
    "c2_quantile_normalize": 2,
    "c2_kruskal_wallis": 1,  # ≤256-row bucket-offset prefix-sum table
    "c14_pareto_skyline": 1,  # ≤256-row bucket suffix-max table
    # two ≤256-row bucket-offset prefix tables (one per rank pass)
    "c15_session_overlap": 2,
    # rank over the DISTINCT-source key table (bounded by source
    # cardinality — thousands, not rows); a high-cardinality key would
    # need the bucketed-CDF rank pass instead (documented in the query)
    "c20_partition_skew_audit": 1,
}


def _count_global_windows(df) -> int:
    """Number of Window nodes with an EMPTY partition spec in the optimized
    logical plan — each one moves its whole input to a single task."""

    def walk(node) -> int:
        n = 0
        if (
            node.getClass().getSimpleName() == "Window"
            and node.partitionSpec().isEmpty()
        ):
            n = 1
        children = node.children()
        for i in range(children.size()):
            n += walk(children.apply(i))
        return n

    return walk(df._jdf.queryExecution().optimizedPlan())


@pytest.fixture(scope="module")
def registry_plans(spark, sf_dir) -> dict[str, tuple[str, int]]:
    """{query: (formatted plan, global-window count)} for every registered
    query, each built once and shared by the two registry-wide lints."""
    plans = {}
    for name, spec in REGISTRY.items():
        df = spec.build(spark, sf_dir)
        plans[name] = (_formatted_plan(df), _count_global_windows(df))
    return plans


def test_no_unbounded_global_windows(registry_plans):
    """Repo-wide plan lint: an unpartitioned window serializes its entire
    input through one task — fatal at 100 TB unless the input is bounded by
    a constant.  Every registered query must plan zero empty-partition
    Window nodes beyond its explicitly justified allowance above."""
    offenders = {}
    for name, (_, count) in registry_plans.items():
        if count > ALLOWED_GLOBAL_WINDOWS.get(name, 0):
            offenders[name] = count
    assert not offenders, (
        "unpartitioned window over a possibly-unbounded table (add a real "
        f"partition key, or justify in ALLOWED_GLOBAL_WINDOWS): {offenders}"
    )


def test_partitioned_layout_gets_dynamic_partition_pruning(spark, sf_dir, tmp_path):
    """Fact tables laid out with write-time partitioning must let Catalyst
    inject a dynamic-partition-pruning subquery when joined to a filtered
    dimension — at 100 TB this is the difference between scanning one
    partition directory and scanning the whole table.  Guards the conf/
    layout combination (a session misconfiguration silently disables DPP)."""
    import os

    from pyspark.sql import functions as F

    from logspout_kinesis_tests_spark.sources.tables import load_table

    path = os.path.join(str(tmp_path), "events_by_type")
    load_table(spark, sf_dir, "events").write.partitionBy("event_type").mode(
        "overwrite"
    ).parquet(path)
    fact = spark.read.parquet(path)
    dim = spark.createDataFrame(
        [("click", 1), ("view", 2)], "event_type string, w int"
    ).filter(F.col("w") == 1)
    joined = fact.join(dim, "event_type").groupBy("event_type").agg(
        F.count("*").alias("n")
    )
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), "DPP subquery missing from plan"
    # and the pruned scan actually restricts to the dimension's partitions
    assert joined.collect()[0]["event_type"] == "click"


def test_pq_search_broadcasts_adc_and_candidates(spark, sf_dir):
    """PQ search must keep the corpus-side tables unshuffled: the ADC lookup
    and the re-rank candidate set are broadcast (both are Q-sized), and no
    cartesian product may appear anywhere."""
    plan = _formatted_plan(REGISTRY["c10_pq_topk"].build(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_interval_overlap_broadcasts_calendar(spark, sf_dir):
    """The 12-row window calendar must broadcast: the fact side is scanned
    once with only the two interval columns and never shuffled."""
    plan = _formatted_plan(
        REGISTRY["c15_interval_overlap_join"].build(spark, sf_dir)
    )
    assert "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan
    # column pruning on the fact scan
    assert "l_extendedprice" not in plan and "l_quantity" not in plan


def _plan_nodes(plan: str) -> list[str]:
    """Unique node list from a formatted plan's detail section — the tree
    section repeats every node, so raw substring counts double-count."""
    import re

    out = []
    for ln in plan.splitlines():
        m = re.match(r"^\(\d+\) (\S+)", ln.strip())
        if m:
            out.append(m.group(1))
    return out


def test_column_profile_expand_carries_only_distincts(spark, sf_dir):
    """The registered profile deliberately splits the multi-count-distinct
    aggregate (Expand path) from the min/max/count aggregate: one Expand,
    two scans, and no min/max branch inside the expanded aggregate
    (SCALE.md: the fused form is 5.8x slower at 1.5M rows)."""
    plan = _formatted_plan(REGISTRY["c2_column_profile"].build(spark, sf_dir))
    nodes = _plan_nodes(plan)
    assert nodes.count("Scan") == 2  # distinct agg + basic agg scans
    assert nodes.count("Expand") == 1
    # the Expand's aggregate must not compute min/max (those live in the
    # basic-agg branch); formatted plans list agg functions per node
    import re

    expand_aggs = re.findall(r"Functions \[.*\]", plan)
    fused = [
        a
        for a in expand_aggs
        if "count(distinct" in a and ("min(" in a or "max(" in a)
    ]
    assert not fused


def test_ewma_single_partition_shuffle(spark, sf_dir):
    """All lag taps share ONE window spec: exactly one hash exchange on
    user_id and one Window node — no per-tap re-shuffles."""
    plan = _formatted_plan(REGISTRY["c16_ewma"].build(spark, sf_dir))
    nodes = _plan_nodes(plan)
    assert nodes.count("Window") == 1
    assert nodes.count("Exchange") == 1
    exchanges = [
        ln for ln in plan.splitlines() if "hashpartitioning(user_id" in ln
    ]
    assert exchanges  # the one exchange is the window's partition key
