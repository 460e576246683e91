"""Every registered query vs its DuckDB oracle (driver-gate mirror) at sf0.001.

sf0.01 (the driver's t2 scale) is exercised by ``test_queries_sf001.py`` /
the pre-commit run of the same comparison — same code path, bigger data.
"""

from __future__ import annotations

import os

import pytest

from rubix_spark.ops import dedup
from rubix_spark.queries import load_all
from tests.conftest import SF_SMOKE
from tests.oracle_utils import compare

REGISTRY = load_all()
SF = os.environ.get("RUBIX_TEST_SF_DIR", SF_SMOKE)


@pytest.mark.parametrize("name", sorted(REGISTRY))
def test_query_matches_oracle(spark, name):
    q = REGISTRY[name]
    df = q.builder(spark, SF)
    if q.oracle is None:
        assert df.count() >= 0  # rows-only check, mirrors the driver's weaker gate
        return
    problems = compare(df, q.oracle, SF)
    if problems and name == "q28_tpch_q1_fast":
        # Quantized-double oracle: a ~1e-6 cross-engine summation delta can flip a
        # whole-dollar FLOOR boundary on some fixture generation (ADVICE r6). A
        # 1-unit quantization flip is not a wrong answer — accept within a guard
        # band; the 1e-9-relative cross-twin test below carries the exactness claim.
        from tests.oracle_utils import compare_tolerant

        problems = compare_tolerant(df, q.oracle, SF, atol=1.001)
    assert not problems, f"{name}: " + "; ".join(problems)


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() >= 0
    assert set(e.oracle_sql()) <= set(e.queries())


def test_neardup_np_agrees_with_exact_variant(spark):
    """The BLAS-vectorized near-dup (rows-only gate) must select the same pairs as the
    oracle-checked sequential variant — only the last-ulp sims may differ."""
    hof = {(r.vec_a, r.vec_b) for r in REGISTRY["x1_embedding_neardup"].builder(spark, SF).collect()}
    npv = {(r.vec_a, r.vec_b) for r in REGISTRY["x1_embedding_neardup_np"].builder(spark, SF).collect()}
    assert hof == npv


def test_trained_ivf_recall(spark):
    """Trained-codebook IVF (rows-only gate) recalls ≥ the nprobe/nlist floor.

    The synthetic embeddings are uniform random — no cluster structure — so IVF recall
    degenerates to ~nprobe/nlist (4/16 = 25%); real corpora sit far above this floor.
    The check guards the plumbing (probing the right buckets, including the query's own),
    not retrieval quality on noise."""
    exact = [r.vec_id for r in REGISTRY["x2_ann_bruteforce"].builder(spark, SF).collect()]
    approx = {r.vec_id for r in REGISTRY["x2_ann_ivf_trained"].builder(spark, SF).collect()}
    recall = len(set(exact) & approx) / len(exact)
    assert recall >= 0.2, f"recall {recall} below nprobe/nlist floor: exact={exact}, approx={approx}"
    assert 0 in approx  # the query vector's own bucket must always be probed


def test_approx_distinct_within_rsd(spark):
    """x6 (rows-only gate): the HLL++ estimate must sit within its configured rsd of
    the exact distinct count it carries alongside — the deterministic repo-side check
    backing the weaker driver gate."""
    row = REGISTRY["x6_approx_distinct"].builder(spark, SF).collect()[0]
    assert row.exact_dc > 0
    assert abs(row.approx_dc - row.exact_dc) <= 3 * 0.02 * row.exact_dc, row


def test_semantic_dedup_np_agrees_with_exact_variant(spark):
    """The BLAS-vectorized semantic dedup (rows-only gate) must keep the same vectors
    as the oracle-checked sequential variant — only last-ulp sims may differ."""
    exact = {(r.vec_id, r.cid, r.kept) for r in REGISTRY["x1_semantic_dedup"].builder(spark, SF).collect()}
    npv = {(r.vec_id, r.cid, r.kept) for r in REGISTRY["x1_semantic_dedup_np"].builder(spark, SF).collect()}
    assert exact == npv


def test_semantic_dedup_np_tiled_agrees(spark, monkeypatch):
    """r12 session 2: the tiled decomposition (every cluster split into hash-block
    tile pairs) must keep the same vectors as the exact variant even when nb > 1 —
    the fixture scales only exercise nb == 1 without forcing a tiny tile."""
    monkeypatch.setattr(dedup, "SEM_TILE_ROWS", 16)  # ~500/16/16 -> nb >= 2
    exact = {(r.vec_id, r.cid, r.kept) for r in REGISTRY["x1_semantic_dedup"].builder(spark, SF).collect()}
    npv = {(r.vec_id, r.cid, r.kept) for r in REGISTRY["x1_semantic_dedup_np"].builder(spark, SF).collect()}
    assert exact == npv


def test_approx_quantiles_within_rank_error(spark):
    """x6_approx_quantiles (rows-only gate): each GK estimate must fall between the
    exact quantiles at q±eps (rank-error guarantee for accuracy 10000 -> eps 1e-4,
    checked against the loose eps=0.01 bracket)."""
    row = REGISTRY["x6_approx_quantiles"].builder(spark, SF).collect()[0]
    import numpy as np

    vals = np.sort(np.array(
        REGISTRY["q1_scan_filter"].builder(spark, SF).sparkSession.read.parquet(
            f"{SF}/lineitem.parquet").select("l_extendedprice").toPandas()["l_extendedprice"]))
    eps = 0.01
    for q, est in zip([0.25, 0.5, 0.75, 0.95], row.approx_q):
        lo = vals[max(0, int(np.floor((q - eps) * len(vals))) )]
        hi = vals[min(len(vals) - 1, int(np.ceil((q + eps) * len(vals))))]
        assert lo <= est <= hi, (q, est, lo, hi)


def test_q28_fast_twin_matches_exact(spark):
    """The double-sum production twin must agree with the decimal-exact q28 on every
    aggregate (r6: the twin is also oracle-checked at whole-dollar quantization; this
    test keeps the tighter cross-twin bound) — proving the sf10 ratio gap on q28 is
    the decimal determinism tax, not a different answer."""
    key = ("l_returnflag", "l_linestatus")
    exact = {tuple(getattr(r, k) for k in key): r for r in REGISTRY["q28_tpch_q1"].builder(spark, SF).collect()}
    fast = {tuple(getattr(r, k) for k in key): r for r in REGISTRY["q28_tpch_q1_fast"].builder(spark, SF).collect()}
    assert set(exact) == set(fast) and exact
    for k, e in exact.items():
        f = fast[k]
        assert f.count_order == e.count_order
        for col in ("sum_qty", "sum_base_price", "sum_disc_price", "sum_charge", "avg_qty", "avg_disc"):
            ev, fv = float(getattr(e, col)), float(getattr(f, col))
            # the exact twin floor-rounds each ROW to cents before summing (drift up
            # to half a cent per row) and the fast twin quantizes its OUTPUT to whole
            # dollars (r6, +0.5 slack); plus fp slack
            assert abs(fv - ev) <= max(1e-9 * abs(ev), 0.005 * e.count_order + 0.51), (k, col, ev, fv)
