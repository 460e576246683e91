"""Round-10 denormalized fact layouts (sources/bucketing._denorm_build).

Three claims need repo-side proof:
1. The materialized columns EQUAL the joins they replace (ingest correctness).
2. The size-branched graded bodies (``AT_SCALE``) match their DuckDB oracles when
   the at-scale branch is FORCED — the sf0.01 oracle gate only exercises the small
   branch (row counts sit under the thresholds), so without this the at-scale
   bodies would ship oracle-unchecked.
3. The rows with one layout body at every size match their oracles at sf0.01,
   the scale the driver's correctness gate runs.
"""

from __future__ import annotations

import os

import pytest

from pyspark.sql import functions as F

from rubix_spark import catalog
from rubix_spark.queries import load_all
from rubix_spark.sources.bucketing import bucketed_table
from tests.conftest import SF_SMOKE, SF_T2
from tests.oracle_utils import compare

REGISTRY = load_all()


def test_lineitem_denorm_columns_match_joins(spark):
    li_dn = bucketed_table(spark, SF_SMOKE, "lineitem", "l_orderkey")
    li = catalog.table(spark, SF_SMOKE, "lineitem")
    supp = catalog.table(spark, SF_SMOKE, "supplier")
    # NULL contract: l_supp_natkey == coalesce(s_nationkey, -1) on a supplier
    # match, NULL on no match (the `when` without otherwise)
    expected = F.when(F.col("s_suppkey").isNotNull(),
                      F.coalesce(F.col("s_nationkey"), F.lit(-1)))
    mismatch = (
        li_dn.select("l_orderkey", "l_linenumber", "l_suppkey", "l_supp_natkey")
        .join(supp.select("s_suppkey", "s_nationkey"),
              F.col("l_suppkey") == F.col("s_suppkey"), "left")
        .where(~F.col("l_supp_natkey").eqNullSafe(expected))
        .count()
    )
    assert mismatch == 0
    assert li_dn.count() == li.count()  # left joins never change row counts


def test_orders_denorm_column_matches_join(spark):
    o_dn = bucketed_table(spark, SF_SMOKE, "orders", "o_orderkey")
    cust = catalog.table(spark, SF_SMOKE, "customer")
    expected = F.when(F.col("c_custkey").isNotNull(),
                      F.coalesce(F.col("c_nationkey"), F.lit(-1)))
    mismatch = (
        o_dn.select("o_orderkey", "o_custkey", "o_cust_natkey")
        .join(cust.select("c_custkey", "c_nationkey"),
              F.col("o_custkey") == F.col("c_custkey"), "left")
        .where(~F.col("o_cust_natkey").eqNullSafe(expected))
        .count()
    )
    assert mismatch == 0


def test_lineitem_bid_matches_dictionary(spark):
    """The ingest-time bid equals the session dictionary's bid for every row —
    the one assignment rule both sides must share (dictionaries.py module doc)."""
    from rubix_spark.sources.dictionaries import brand_dictionary, brand_probe

    li_dn = bucketed_table(spark, SF_SMOKE, "lineitem", "l_orderkey")
    pid = brand_probe(
        catalog.table(spark, SF_SMOKE, "part"),
        brand_dictionary(spark, SF_SMOKE),
    )
    mismatch = (
        li_dn.select("l_partkey", "l_brand_bid")
        .join(pid, F.col("l_partkey") == F.col("p_partkey"), "left")
        .where(~F.col("l_brand_bid").eqNullSafe(F.col("bid")))
        .count()
    )
    assert mismatch == 0


def test_orders_dictionary_ids_match(spark):
    """r12: the ingest-time o_status_sid/o_priority_pid equal the session
    dictionary's mapping for every row — the single assignment rule (1 + rank in
    the NULLS-FIRST sorted distinct list) both the layout build and q31's driver
    finalize must share."""
    from rubix_spark.sources.dictionaries import column_dictionary, dict_id_expr

    o_dn = bucketed_table(spark, SF_SMOKE, "orders", "o_orderkey")
    sid = dict_id_expr(
        F.col("o_orderstatus"), column_dictionary(spark, SF_SMOKE, "orders", "o_orderstatus"))
    pid = dict_id_expr(
        F.col("o_orderpriority"), column_dictionary(spark, SF_SMOKE, "orders", "o_orderpriority"))
    mismatch = o_dn.where(
        ~F.col("o_status_sid").eqNullSafe(sid) | ~F.col("o_priority_pid").eqNullSafe(pid)
    ).count()
    assert mismatch == 0


def test_lineitem_dictionary_ids_match(spark):
    """r12 (v4): l_rf_sid/l_ls_sid equal the session dictionary's mapping for
    every row — the shared assignment rule q3/q28's decode relies on."""
    from rubix_spark.sources.dictionaries import column_dictionary, dict_id_expr

    li_dn = bucketed_table(spark, SF_SMOKE, "lineitem", "l_orderkey")
    rf = dict_id_expr(
        F.col("l_returnflag"), column_dictionary(spark, SF_SMOKE, "lineitem", "l_returnflag"))
    ls = dict_id_expr(
        F.col("l_linestatus"), column_dictionary(spark, SF_SMOKE, "lineitem", "l_linestatus"))
    mismatch = li_dn.where(
        ~F.col("l_rf_sid").eqNullSafe(rf) | ~F.col("l_ls_sid").eqNullSafe(ls)
    ).count()
    assert mismatch == 0


# (row, AT_SCALE branch forced): q31_grouping_sets reads the materialized rollup at
# every size, so forcing q31_agg_live leaves it unchanged; q31_agg_live runs that branch.
@pytest.mark.parametrize("name,branch", [
    ("q30_yoy_delta", "q30_yoy_delta"),
    ("q31_grouping_sets", "q31_agg_live"),
    ("q31_agg_live", "q31_agg_live"),
    ("x2_ann_bruteforce", "x2_ann_bruteforce"),
    # q30's brand dictionary probe (only its small body consults the entry)
    ("q30_yoy_delta", "q30_brand_dict"),
])
def test_forced_layout_branch_matches_oracle(spark, force_at_scale, name, branch):
    force_at_scale(branch)
    q = REGISTRY[name]
    problems = compare(q.builder(spark, SF_SMOKE), q.oracle, SF_SMOKE)
    assert not problems, f"{name} (layout branch): " + "; ".join(problems)


# Rows that run their layout body at every size (no ``AT_SCALE`` entry). Until
# their size branches went, sf0.01 ran a small body; test_queries checks every row
# at sf0.001 only, so this pins the body the driver's correctness scale now runs.
_LAYOUT_ONLY_ROWS = [
    "q3_agg_having", "q28_tpch_q1", "q4_star_join", "x4_udf_grouped_median",
    "x7_range_join", "x9_pack", "x1_dedup_components",
]


@pytest.mark.parametrize("name", _LAYOUT_ONLY_ROWS)
def test_layout_body_matches_oracle_at_t2(spark, name):
    from rubix_spark.queries import AT_SCALE
    from rubix_spark.sources.bucketing import warehouse_root

    if not os.path.isdir(SF_T2):
        pytest.skip(f"{SF_T2} not present")
    assert name not in AT_SCALE
    q = REGISTRY[name]
    df = q.builder(spark, SF_T2)
    if name != "x1_dedup_components":  # hub contraction: no written layout to read
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert warehouse_root() in plan, f"{name} reads no written layout:\n{plan}"
    problems = compare(df, q.oracle, SF_T2)
    assert not problems, f"{name} at sf0.01: " + "; ".join(problems)


def test_natkey_null_sentinel_contract(spark, tmp_path):
    """ADVICE r10: a MATCHED supplier whose own s_nationkey is NULL must encode -1
    (existence), while a MISSING supplier stays NULL — the fixtures carry no NULL
    nationkeys, so this builds a tiny synthetic generation to pin the contract."""
    from rubix_spark.sources.bucketing import _denorm_build

    sf = str(tmp_path)
    spark.createDataFrame(
        [(1, 10), (2, None)], "s_suppkey bigint, s_nationkey bigint"
    ).write.parquet(f"{sf}/supplier.parquet")
    spark.createDataFrame(
        [(100, "Brand#1")], "p_partkey bigint, p_brand string"
    ).write.parquet(f"{sf}/part.parquet")
    spark.createDataFrame(
        # suppkey 1 -> natkey 10; suppkey 2 -> matched, NULL natkey; 3 -> missing
        # (v4: the build also dictionary-encodes l_returnflag/l_linestatus)
        [(1, 1, 1, 100, "N", "O"), (1, 2, 2, 100, "R", "F"), (1, 3, 3, 100, None, "F")],
        "l_orderkey bigint, l_linenumber int, l_suppkey bigint, l_partkey bigint,"
        " l_returnflag string, l_linestatus string",
    ).write.parquet(f"{sf}/lineitem.parquet")
    build, _ = _denorm_build(spark, sf, "lineitem")
    got = {r["l_suppkey"]: r["l_supp_natkey"] for r in build().collect()}
    assert got == {1: 10, 2: -1, 3: None}


def test_sort_spec_change_gets_own_layout(spark, tmp_path, monkeypatch):
    """ADVICE r10 + r11: a different sort spec must never serve the old files
    (zero-Sort consumers would read unsorted data under a trusted SORTED BY DDL).
    Since r12 the spec is part of the artifact IDENTITY: each spec owns a distinct
    directory + table, so two same-session callers with different specs coexist
    instead of ping-ponging rebuilds of one path."""
    import json
    import os

    from rubix_spark.sources.bucketing import persisted_bucketed, warehouse_root

    monkeypatch.setenv("RUBIX_WAREHOUSE_DIR", str(tmp_path / "wh"))
    src = str(tmp_path / "src.parquet")
    df = spark.createDataFrame([(i, 100 - i) for i in range(50)], "k bigint, v bigint")
    df.write.parquet(src)

    def build():
        return spark.read.parquet(src)

    first = persisted_bucketed(spark, "spec_probe", src, build, "k", n_buckets=2, sort_col="k")
    out = persisted_bucketed(
        spark, "spec_probe", src, build, "k", n_buckets=2, sort_col=("k", "v"))
    markers = sorted(
        os.path.join(r, f) for r, _, fs in os.walk(warehouse_root())
        for f in fs if f == "_rubix_layout.json")
    specs = []
    for m in markers:
        with open(m) as fh:
            specs.append(json.load(fh)["sort_col"])
    # two DISTINCT artifacts, one per spec; both frames stay readable
    assert sorted(map(tuple, specs)) == [("k",), ("k", "v")], specs
    assert first.count() == 50 and out.count() == 50


def test_star_edges_give_identical_components(spark):
    """Round-11 (r10 verdict #6): per-bucket star edges span exactly what the
    bucket clique spans — the component labels (min doc_id per component) must be
    IDENTICAL to running the propagation over the all-pairs candidate list."""
    from rubix_spark.ops import dedup

    pairs = dedup.minhash_lsh(spark, SF_SMOKE)
    stars = dedup._star_edges(spark, SF_SMOKE)
    via_pairs = sorted(
        map(tuple, dedup.connected_components(pairs, "doc_a", "doc_b").collect()))
    via_stars = sorted(
        map(tuple, dedup.connected_components(stars, "doc_a", "doc_b").collect()))
    assert via_pairs == via_stars
    # and the star list is never LARGER than the clique list
    assert stars.count() <= pairs.count()
    # r12 session 2: hub contraction (propagation over bucket hubs only, members
    # attached by min-hub) must yield the identical labels too
    via_hubs = sorted(map(tuple, dedup._hub_components(spark, SF_SMOKE).collect()))
    assert via_pairs == via_hubs


def test_frontier_propagation_matches_union_find(spark):
    """r12 (r11 verdict #4): connected_components is frontier-driven — only labels
    that moved last round re-enter the propagation join, with broadcast tails.
    Pin the fixpoint against a driver-side union-find on a random graph shaped to
    stress the frontier logic: long chains (diameter >> 1, many tail rounds with
    a tiny frontier) plus stars plus isolated pairs."""
    import random

    from rubix_spark.ops.dedup import connected_components

    rng = random.Random(7)
    edges = []
    # a 31-node chain (diameter 30 < max_iter — hash-min needs one round per hop,
    # so longer chains legitimately exhaust the bound and warn), three 30-member
    # stars, random noise
    edges += [(i, i + 1) for i in range(100, 130)]
    for hub in (1000, 2000, 3000):
        edges += [(hub, hub + 1 + k) for k in range(30)]
    nodes = list(range(5000, 5300))
    edges += [(rng.choice(nodes), rng.choice(nodes)) for _ in range(150)]

    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # component id = min node id, matching connected_components' contract
    comp = {}
    for n in list(parent):
        comp[n] = find(n)
    expect = sorted((n, c) for n, c in comp.items())

    df = spark.createDataFrame(edges, "src bigint, dst bigint")
    got = sorted(map(tuple, connected_components(df).collect()))
    assert got == expect


def test_max_iter_exhaustion_warns(spark):
    """ADVICE r11: exhausting max_iter with labels still moving must WARN instead
    of silently returning unconverged components. A chain needs one round per
    hop, so a 10-edge chain under max_iter=3 cannot converge."""
    import pytest as _pytest

    from rubix_spark.ops.dedup import connected_components

    df = spark.createDataFrame([(i, i + 1) for i in range(10)], "src bigint, dst bigint")
    with _pytest.warns(RuntimeWarning, match="max_iter=3 exhausted"):
        connected_components(df, max_iter=3).collect()
