"""ANN-specific correctness beyond the oracle gate.

- the BLAS brute-force twin must agree with the oracle-exact HOF variant (same top-k
  ids; sims equal at the rounded precision) — the twin is the 100 TB scoring path, the
  HOF variant is the proof.
- recall realism: the driver's embeddings are uniform random (no cluster structure),
  where any bucketed ANN sits at the nprobe/nlist floor by construction. Real corpora
  cluster; a mixture-of-Gaussians fixture here asserts that multiprobe-LSH and
  trained-IVF actually recall ≥ 0.8 of the exact top-10 when structure exists — i.e.
  the parameters (NPROBE=4/16 lists, 8 planes + Hamming≤1 probing) are sound, not just
  plumbed.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from rubix_spark.queries import AT_SCALE, load_all
from tests.conftest import SF_SMOKE, SF_T2

REG = load_all()

_N, _DIM, _K = 2000, 64, 16


@pytest.fixture(scope="module")
def clustered_dir(tmp_path_factory):
    """embeddings.parquet with real cluster structure: 16 unit-norm Gaussian centers,
    125 vectors each at noise sigma=0.05 (cluster-mate cosine ~0.93, the tightness of
    real retrieval neighbors) — near neighbors are overwhelmingly cluster-mates."""
    rng = np.random.default_rng(7)
    centers = rng.normal(size=(_K, _DIM))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    labels = np.repeat(np.arange(_K), _N // _K)
    m = centers[labels] + rng.normal(scale=0.05, size=(_N, _DIM))
    d = tmp_path_factory.mktemp("clustered")
    tbl = pa.table(
        {
            "vec_id": pa.array(np.arange(_N), pa.int64()),
            "embedding": pa.array([row.astype(np.float32) for row in m], pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )
    pq.write_table(tbl, str(d / "embeddings.parquet"))
    mn = m / np.linalg.norm(m, axis=1, keepdims=True)
    sims = mn @ mn[0]  # query is vec_id 0, as in the registered queries
    order = np.lexsort((np.arange(_N), -sims))
    return str(d), set(order[:10].tolist())


def _recall_at_10(spark, name: str, clustered) -> float:
    d, truth = clustered
    got = {r.vec_id for r in REG[name].builder(spark, d).collect()}
    return len(got & truth) / len(truth)


def test_exact_ground_truth_is_cluster_local(clustered_dir):
    """Fixture sanity: the exact top-10 of the query must come from its own cluster —
    otherwise the recall tests wouldn't be testing bucketed search at all."""
    _, truth = clustered_dir
    assert all(v < _N // _K for v in truth), truth  # cluster 0 = ids 0..124


def test_multiprobe_lsh_recall_on_clustered(spark, clustered_dir):
    r = _recall_at_10(spark, "x2_ann_lsh_multiprobe", clustered_dir)
    assert r >= 0.8, f"multiprobe-LSH recall@10 = {r}"


def test_trained_ivf_recall_on_clustered(spark, clustered_dir):
    r = _recall_at_10(spark, "x2_ann_ivf_trained", clustered_dir)
    assert r >= 0.8, f"trained-IVF recall@10 = {r}"


def test_bruteforce_np_is_exact_on_clustered(spark, clustered_dir):
    assert _recall_at_10(spark, "x2_ann_bruteforce_np", clustered_dir) == 1.0


def test_ivf_codebook_missing_ids_is_explicit(spark):
    """A fixture without the query vector must fail with the explicit ValueError, not
    an opaque KeyError (ADVICE r2)."""
    from rubix_spark.ops.similarity import _ivf_codebook

    emb = spark.createDataFrame([(500, [0.1] * 4, 0)], "vec_id bigint, embedding array<float>, label int")
    with pytest.raises(ValueError, match="missing required vec_ids"):
        _ivf_codebook(emb, (0,))


def test_np_exact_branch_is_bit_identical(spark, force_at_scale):
    """The size-adaptive kernel (r12): dimension-major accumulation must reproduce
    the interpreted HOF fold bit-for-bit — RAW cosines compared with ==, every row,
    plus forced-branch top-k equality so the driver oracle covers the kernel."""
    from pyspark.sql import functions as F

    from rubix_spark import catalog
    from rubix_spark.ops.similarity import QUERY_VEC_ID, _py_dot, cosine_lit

    emb = catalog.table(spark, SF_T2, "embeddings")
    qrow = emb.where(F.col("vec_id") == QUERY_VEC_ID).select("embedding").head()
    hof = {r.vec_id: r.s for r in emb.select(
        "vec_id", cosine_lit("embedding", list(qrow.embedding)).alias("s")).collect()}
    q = np.asarray(qrow.embedding, dtype=np.float64)
    q_norm = float(_py_dot(qrow.embedding, qrow.embedding)) ** 0.5
    for r in emb.select("vec_id", "embedding").collect():
        m = np.asarray(r.embedding, dtype=np.float64)
        dq = dv = 0.0
        for j in range(len(m)):
            dq += m[j] * q[j]
            dv += m[j] * m[j]
        s = dq / (np.sqrt(dv) * q_norm)
        assert s == hof[r.vec_id], (r.vec_id, s, hof[r.vec_id])

    # forced branch: the kernel plan must return the identical top-k
    base = [(r.vec_id, r.sim) for r in REG["x2_ann_bruteforce"].builder(spark, SF_T2).collect()]
    force_at_scale("x2_ann_bruteforce")
    forced = [(r.vec_id, r.sim) for r in REG["x2_ann_bruteforce"].builder(spark, SF_T2).collect()]
    assert base == forced


def test_bruteforce_np_matches_hof_exact(spark):
    for sf in (SF_SMOKE, SF_T2):
        hof = [(r.vec_id, r.sim) for r in REG["x2_ann_bruteforce"].builder(spark, sf).collect()]
        blas = [(r.vec_id, r.sim) for r in REG["x2_ann_bruteforce_np"].builder(spark, sf).collect()]
        assert len(hof) == len(blas) == 10
        assert [v for v, _ in hof] == [v for v, _ in blas]
        for (_, a), (_, b) in zip(hof, blas):
            assert abs(a - b) <= 1e-4, (a, b)  # rounded to 4 places; ulp drift only


def test_ivfpq_recall_on_clustered(spark, clustered_dir):
    """IVF-PQ (coarse probe -> ADC lookup scoring -> exact re-rank) must recall >=0.8
    of the exact top-10 where cluster structure exists — the 32x-compression path
    can't be cheaper than the recall it ships."""
    r = _recall_at_10(spark, "x2_ann_ivfpq", clustered_dir)
    assert r >= 0.8, f"IVF-PQ recall@10 = {r}"


def test_ivfpq_is_deterministic(spark, clustered_dir):
    """Training (index-strided init, fixed Lloyd rounds, ties to lower code) and
    scoring must reproduce exactly: same fixture -> identical result rows."""
    d, _ = clustered_dir
    a = [(r.vec_id, r.sim) for r in REG["x2_ann_ivfpq"].builder(spark, d).collect()]
    spark._rubix_pq_memo = {}  # drop the memo so training itself re-runs
    b = [(r.vec_id, r.sim) for r in REG["x2_ann_ivfpq"].builder(spark, d).collect()]
    assert a == b and len(a) == 10


def test_np_exact_branch_degrades_on_bad_rows_like_the_fold(spark, tmp_path, monkeypatch):
    """ADVICE r12: a NULL / ragged / NULL-element embedding row must not crash the
    size-adaptive kernel branch — the HOF fold maps each to a NULL sim (zip_with
    pads with NULL, NULL poisons the fold), which sorts out of the top-k. The
    kernel must return the identical top-k on the same corrupted fixture, and
    surface the bad rows (sim NULL, vec_id asc) when fewer than k rows are clean."""
    rng = np.random.default_rng(11)
    dim = 8
    m = rng.normal(size=(30, dim))
    rows = [r.astype(np.float32).tolist() for r in m]
    rows[3] = None                      # NULL embedding
    rows[5] = rows[5][:dim - 2]         # ragged short
    rows[7] = rows[7] + [0.5, 0.5]      # ragged long
    rows[9] = [None] + rows[9][1:]      # NULL element
    d = tmp_path / "badrows"
    d.mkdir()
    pq.write_table(
        pa.table({
            "vec_id": pa.array(np.arange(30), pa.int64()),
            "embedding": pa.array(rows, pa.list_(pa.float32())),
        }),
        str(d / "embeddings.parquet"),
    )
    hof = [(r.vec_id, r.sim) for r in REG["x2_ann_bruteforce"].builder(spark, str(d)).collect()]
    fold = AT_SCALE["x2_ann_bruteforce"]
    monkeypatch.setitem(AT_SCALE, "x2_ann_bruteforce", (fold[0], 0))
    forced = [(r.vec_id, r.sim) for r in REG["x2_ann_bruteforce"].builder(spark, str(d)).collect()]
    assert forced == hof
    assert all(s is not None for _, s in forced)  # 26 clean rows > k=10

    # degenerate corpus: fewer clean rows than k -> NULL-sim rows fill the tail
    rows2 = [rows[0]] + [None] * 24 + rows[25:]  # query row itself stays clean
    d2 = tmp_path / "mostlybad"
    d2.mkdir()
    pq.write_table(
        pa.table({
            "vec_id": pa.array(np.arange(30), pa.int64()),
            "embedding": pa.array(rows2, pa.list_(pa.float32())),
        }),
        str(d2 / "embeddings.parquet"),
    )
    forced2 = [(r.vec_id, r.sim) for r in REG["x2_ann_bruteforce"].builder(spark, str(d2)).collect()]
    monkeypatch.setitem(AT_SCALE, "x2_ann_bruteforce", fold)
    hof2 = [(r.vec_id, r.sim) for r in REG["x2_ann_bruteforce"].builder(spark, str(d2)).collect()]
    assert forced2 == hof2 and len(forced2) == 10
    assert sum(1 for _, s in forced2 if s is None) == 4  # 6 clean rows, 4 NULL fill
