"""Physical-plan regression tests: the scale properties the engine is designed around.

A query can be correct and still wrong at 100 TB — these tests pin the plan shapes that
keep it fast: parquet pushdown/pruning, broadcast dimension joins, top-k without global
sort, window-group-limit pushdown, Arrow (not pickle) Python evaluation.
"""

from __future__ import annotations

import re

import pytest

from rubix_spark.queries import load_all
from tests.conftest import SF_SMOKE

REG = load_all()


def _plan(spark, name: str) -> str:
    df = REG[name].builder(spark, SF_SMOKE)
    return df._jdf.queryExecution().executedPlan().toString()


def test_scan_pushdown_and_pruning(spark):
    """Q1's parquet scan must carry the predicates and read only the referenced columns."""
    plan = _plan(spark, "q1_scan_filter")
    scan_lines = [l for l in plan.splitlines() if "FileScan parquet" in l]
    assert scan_lines, plan
    scan = scan_lines[0]
    # pruned: 5 columns (3 projected + 2 filter), not all 11
    assert "l_orderkey" in scan and "l_tax" not in scan
    assert "l_shipdate" in plan and "PushedFilters" in plan


def test_star_join_broadcasts_dimensions(spark):
    """Q4: dimension joins must be broadcast-hash, never nested-loop. The SQL twin
    probes all four dimensions; the graded row reads the denormalized layout and
    joins only region and nation, both broadcast."""
    plan = _plan(spark, "q4_star_join_sql")
    assert plan.count("BroadcastHashJoin") >= 4
    assert "BroadcastNestedLoopJoin" not in plan
    plan = _plan(spark, "q4_star_join")
    assert plan.count("BroadcastHashJoin") >= 2
    assert "BroadcastNestedLoopJoin" not in plan


def test_topk_avoids_global_sort(spark):
    """Q16: ORDER BY + LIMIT compiles to TakeOrderedAndProject (per-partition heaps)."""
    assert "TakeOrderedAndProject" in _plan(spark, "q16_topk")


def test_rank_filter_pushes_into_window(spark):
    """Q10: rk <= 3 must become a WindowGroupLimit (per-partition top-k before the sort)."""
    assert "WindowGroupLimit" in _plan(spark, "q10_window_rank")


def test_python_udfs_run_on_arrow(spark):
    """X4: pandas UDFs must evaluate via Arrow batches, not pickled rows."""
    assert "ArrowEvalPython" in _plan(spark, "x4_udf_scalar")
    assert "FlatMapGroupsInPandas" in _plan(spark, "x4_udf_grouped_map")


def test_minhash_has_no_cross_join(spark):
    """X1 LSH candidate generation must be an equi-join on band keys, never O(n^2)."""
    plan = _plan(spark, "x1_minhash_lsh")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_semi_and_anti_joins(spark):
    assert "LeftSemi" in _plan(spark, "q7_semi_join")
    assert "LeftAnti" in _plan(spark, "q8_anti_join")


def test_range_join_is_single_exchange_window(spark):
    """X7 range join (round-7): a RANGE-frame window over the user-bucketed events
    layout — no self-join, no row fan-out, no nested loop, and no exchange (the
    bucket partitioning feeds the window). The bucketized equi-join form survives
    as x7_range_join_bucketed (hot-user escape hatch)."""
    plan = _plan(spark, "x7_range_join")
    assert "Window" in plan, plan
    assert "Join" not in plan and "CartesianProduct" not in plan, plan
    assert "Exchange" not in plan, plan
    bplan = _plan(spark, "x7_range_join_bucketed")
    assert "CartesianProduct" not in bplan and "BroadcastNestedLoopJoin" not in bplan
    assert "bucket" in bplan


def test_asof_join_is_pure_jvm_single_shuffle(spark):
    """X7 as-of join: the registered plan is scan → one hash exchange on user_id →
    sort+window — NO Python evaluation anywhere (the round-2 per-key cogroup paid one
    interpreter dispatch per user: 4.6 s at sf0.1, the suite's slowest query)."""
    plan = _plan(spark, "x7_asof_join")
    assert "InPandas" not in plan and "Python" not in plan, plan
    assert "Window" in plan
    shuffles = [l for l in plan.splitlines() if "Exchange hashpartitioning" in l]
    assert len(shuffles) == 1, plan


def test_asof_pandas_path_batches_keys_per_bucket(spark):
    """The generic Arrow as-of operator must dispatch per BUCKET (32 pandas calls),
    not per key: the cogroup's grouping expression is the bucket hash."""
    plan = _plan(spark, "x7_asof_join_pandas")
    assert "FlatMapCoGroupsInPandas" in plan
    assert "_asof_bucket" in plan


def test_ann_serve_path_probes_persisted_index(spark):
    """X2 (round 7): the graded IVF/LSH rows PROBE the written bucketed index — zero
    Exchange of any kind (build-pass shuffles live in the one-time index write, and
    the query bucket/probe set resolve driver-side), and the scan bucket-prunes to the
    probed buckets only (LSH: the query's single bucket of 32; IVF: <= NPROBE centroid
    buckets of 16). Re-hashing/re-assigning the corpus per probe — what these rows did
    through round 6 — is a full corpus scan per query at 100 TB."""
    import re

    for name, want in (("x2_ann_ivf", 16), ("x2_ann_lsh", 32), ("x2_ann_lsh_multiprobe", 32)):
        plan = _plan(spark, name)
        assert "Exchange" not in plan, f"{name} shuffles:\n{plan}"
        assert "rxb_" in plan, f"{name} does not read the persisted index:\n{plan}"
        m = re.search(r"SelectedBucketsCount: (\d+) out of (\d+)", plan)
        assert m, f"{name} scan is not bucket-pruned:\n{plan}"
        selected, total = int(m.group(1)), int(m.group(2))
        assert total == want, f"{name}: {total} buckets, expected {want}"
        assert selected < total, f"{name} reads every bucket:\n{plan}"
        if name == "x2_ann_lsh":
            assert selected == 1, f"single-bucket probe expected:\n{plan}"
        assert "Window" not in plan and "Generate" not in plan, name


def test_unigram_census_broadcasts_and_reuses_checkpoint(spark):
    """X3 unigram-LM: the vocabulary census joins back to the token stream as a
    broadcast (vocabulary ≪ corpus — a shuffle join would move every token row), and
    both join sides must scan the SAME checkpointed token RDD (one tokenize pass)."""
    plan = _plan(spark, "x3_unigram_lm")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    # both join sides scan the checkpointed token RDD; a FileScan would mean the
    # tokenize+explode projection leaked past the checkpoint and runs per use
    assert "FileScan" not in plan, plan
    assert plan.count("Scan ExistingRDD") == 2, plan


def test_deep_cte_computed_once_with_broadcast_dims(spark):
    """Q29 (query64-class): the 6-way-join CTE must broadcast its dimensions, and the
    final plan must read the checkpointed CTE (ExistingRDD), never re-run the join —
    recomputing the CTE per consumer would triple the dominant cost at scale."""
    from rubix_spark.queries.extended import _q29_cust_sales

    cte_plan = (
        _q29_cust_sales(spark, SF_SMOKE)._jdf.queryExecution().executedPlan().toString()
    )
    # round-10: the customer and supplier probes are GONE (denormalized layout
    # keys: pushed In()/IsNotNull filters instead) — the only broadcasts left are
    # the nation/region name attach on the AGGREGATE output
    assert cte_plan.count("BroadcastHashJoin") == 2, cte_plan
    assert "In(o_cust_natkey" in cte_plan, cte_plan
    assert "IsNotNull(l_supp_natkey" in cte_plan, cte_plan
    assert "BroadcastNestedLoopJoin" not in cte_plan and "CartesianProduct" not in cte_plan
    # round-6: the fact join reads the orderkey-bucketed layout — the CTE's one wide
    # shuffle is gone; the only exchange left is the much smaller partial-aggregate
    assert "Exchange hashpartitioning(l_orderkey" not in cte_plan, cte_plan
    assert "Exchange hashpartitioning(o_orderkey" not in cte_plan, cte_plan

    plan = _plan(spark, "q29_deep_cte")
    assert "FileScan parquet" not in plan  # every consumer reads the materialized CTE
    assert plan.count("ExistingRDD") >= 2  # both self-join sides (+ the rollup branch)


def test_arrow_kernel_text_ops_run_in_pandas_stage(spark):
    """x3_quality / x9_token_hist / x9_e2e (r4) and x3_fingerprint / x9_contamination
    (r5): per-doc regex/shingle work must run as ONE Arrow batch stage (MapInPandas,
    or MapInArrow where the kernel skips the pandas round trip entirely — late r7),
    not JVM regex per expression (8x at sf1, see ops/text; fingerprint 6.6x and
    contamination 29x at sf10)."""
    for name in ("x3_quality", "x9_token_hist", "x9_e2e_pipeline", "x3_fingerprint", "x9_contamination"):
        plan = _plan(spark, name)
        assert ("MapInPandas" in plan) or ("MapInArrow" in plan), name


def test_e2e_dedup_shuffles_hash_not_text(spark):
    """x9_e2e's dedup exchange must key on the 16-byte md5, never the raw text column
    (a raw-text shuffle moves the whole corpus through the wire at 100 TB)."""
    plan = _plan(spark, "x9_e2e_pipeline")
    exchanges = [l for l in plan.splitlines() if "Exchange hashpartitioning" in l]
    assert exchanges, plan
    assert not any("text" in l for l in exchanges), exchanges


def test_pack_prefix_sum_is_two_level(spark):
    """Sequence packing's corpus-wide cumsum must NOT be one global window over the
    data — the big side's window is partitioned by block, and only the tiny
    per-block offset table (one row per ~256 docs) funnels through a single
    partition before being broadcast back. x9_e2e_shards runs it per query (x9_pack
    reads it from the docs_ntok layout, whose ingest runs the same _two_level_cum)."""
    plan = _plan(spark, "x9_e2e_shards")
    # block-partitioned window over the data side
    assert "windowspecdefinition(blk" in plan, plan
    # offsets come back as a broadcast, never a shuffled join on the corpus
    assert "BroadcastHashJoin" in plan, plan
    # the single-partition exchange only ever feeds the (aggregated) offsets window,
    # which sits under the broadcast side
    assert plan.count("Exchange SinglePartition") <= 1, plan


def test_semantic_dedup_blocked_join(spark):
    """x1_semantic_dedup: the within-cluster prune must be an equi-join on cid —
    never an unblocked O(n^2) product — and the codebook argmax must be a literal
    array (evaluated once per row), not a per-row CreateArray."""
    plan = _plan(spark, "x1_semantic_dedup")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_correlated_subquery_runs_as_window(spark):
    """q18: the per-customer average must come from a window, never the decorrelated
    join form (which scans and shuffles the table twice) — and since round 6 the
    window consumes the custkey bucket partitioning, so the plan has ZERO exchanges."""
    plan = _plan(spark, "q18_correlated")
    assert "Join" not in plan, plan
    assert "Exchange hashpartitioning" not in plan, plan


def test_substring_dedup_shuffles_hash_not_text(spark):
    """x1_substring_dedup: after the Arrow window kernel, only (doc_id, pos, h1, h2)
    rows may shuffle — the raw text column and the K-token window strings ('sh')
    must be projected away before any exchange (at 100 TB the window strings are
    ~8x the corpus; the hash rows are 32 bytes, two longs of key). Exactly two hash
    exchanges: the duplicate count keyed on the xxhash64 pair, the interval merge
    keyed on doc_id."""
    plan = _plan(spark, "x1_substring_dedup")
    assert "MapInArrow" in plan, plan  # r14: window kernel skips the pandas round trip
    exchanges = [l for l in plan.splitlines() if "Exchange hashpartitioning" in l]
    assert len(exchanges) == 2, exchanges
    assert not any(("text" in l) or ("sh#" in l) for l in exchanges), exchanges
    assert any("h1#" in l and "h2#" in l for l in exchanges), exchanges
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


@pytest.mark.parametrize("name", ["q3_agg_having", "q28_tpch_q1"])
def test_report_aggregate_keys_on_dictionary_ids(spark, name):
    """Invariant 29, at every size: q3 and q28 group the lineitem layout on its
    l_rf_sid/l_ls_sid ints. The scan never reads the returnflag/linestatus strings
    and every aggregate keys on the two ids; the strings decode on the result."""
    plan = _plan(spark, name)
    scans = [l for l in plan.splitlines() if "FileScan parquet" in l]
    assert scans and all("l_rf_sid" in s and "l_ls_sid" in s for s in scans), plan
    assert not any("l_returnflag" in s or "l_linestatus" in s for s in scans), plan
    aggs = [l for l in plan.splitlines() if "HashAggregate(keys=[" in l]
    assert aggs and all(
        re.search(r"keys=\[l_rf_sid#\d+, l_ls_sid#\d+\]", a) for a in aggs), plan
