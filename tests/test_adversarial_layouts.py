"""Forced layout-branch oracle parity on the ADVERSARIAL corpora.

Two prior programs compose here, each leaving the other's blind spot:

- The adversarial corpora (test_adversarial_relational / test_kernel_properties)
  run every oracle-bearing query on NULL-key / dangling-key / unicode / hot-key
  data — but the corpora are tiny, so every size-adaptive body picks its SMALL
  branch: the layout paths (bucketed warehouse, denorm sentinel natkeys,
  dictionary ids, ingest-time cumsums, hub contraction) never see the edges.
- The forced-branch suite (test_denorm_layout) pins each layout body against its
  oracle — but only on the FRIENDLY generated fixture (no NULL group keys, no
  dangling FKs, no empty docs).

This module forces the layout branches (the same env knobs) onto the
adversarial corpora, so the code path that actually runs at sf10+ is the one
proven at the contract's edges. Fixtures are imported from the sibling modules
(pytest resolves fixtures through the module namespace).
"""

from __future__ import annotations

import pytest

from rubix_spark.queries import load_all

from test_adversarial_relational import _REL, adversarial_wh_dir  # noqa: F401
from test_kernel_properties import (  # noqa: F401
    _canon,
    adversarial_docs_dir,
    adversarial_emb_dir,
    adversarial_events_dir,
)

REG = load_all()


@pytest.fixture(autouse=True)
def _isolated_warehouse(tmp_path_factory, monkeypatch):
    """Layout artifacts built from adversarial tmp dirs go to their own warehouse
    root (never the shared /tmp/rubix_warehouse the bench uses)."""
    monkeypatch.setenv(
        "RUBIX_WAREHOUSE_DIR", str(tmp_path_factory.getbasetemp() / "adv_wh")
    )


def _duck_rows(oracle: str, view_dir: str, tables) -> list:
    import duckdb

    con = duckdb.connect()
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{view_dir}/{t}.parquet'")
    try:
        return _canon(tuple(r) for r in con.execute(oracle).fetchall())
    finally:
        con.close()


def _assert_parity(spark, name: str, sf_dir: str, tables) -> None:
    q = REG[name]
    o = _duck_rows(q.oracle, sf_dir, tables)
    s = _canon(tuple(r) for r in q.builder(spark, sf_dir).collect())
    assert s == o, f"{name}: spark={len(s)} rows, oracle={len(o)} rows; first diff: " + str(
        next(((a, b) for a, b in zip(s, o) if a != b), None) if len(s) == len(o) else "row count"
    )


# ---------------------------------------------------------------------------
# Relational layout branches (bucketed warehouse + denorm + dictionary ids)
# ---------------------------------------------------------------------------
# (row, AT_SCALE branches forced); q31_grouping_sets reads the materialized rollup at
# every size, so forcing q31_agg_live leaves it unchanged; q31_agg_live runs that branch.
@pytest.mark.parametrize("name,branches", [
    ("q3_agg_having", ("q3_agg_having",)),
    ("q28_tpch_q1", ("q28_tpch_q1",)),
    ("q4_star_join", ("q4_star_join",)),
    ("q30_yoy_delta", ("q30_yoy_delta",)),
    # dictionary-probe variant of the q30 tail (brand rides as an int id)
    ("q30_yoy_delta", ("q30_yoy_delta", "q30_brand_dict")),
    ("q31_grouping_sets", ("q31_agg_live",)),
    ("q31_agg_live", ("q31_agg_live",)),
])
def test_relational_layout_branch_on_adversarial_warehouse(
    spark, adversarial_wh_dir, force_at_scale, name, branches
):
    force_at_scale(*branches)
    _assert_parity(spark, name, adversarial_wh_dir, _REL)


def test_q5_decomposition_branch_on_adversarial_warehouse(
    spark, adversarial_wh_dir, monkeypatch
):
    """q5's aggregate-decomposition branch (the only one that survives sf10) is
    chosen by |S|x|C| footer row counts; force it by inflating the row-count
    reader it consults. NULL names / NULL nationkeys must count exactly as the
    oracle's theta join does."""
    import rubix_spark.sources.stats as stats

    real = stats.parquet_row_count
    monkeypatch.setattr(stats, "parquet_row_count", lambda p: max(real(p), 10**6))
    _assert_parity(spark, "q5_theta_join", adversarial_wh_dir, _REL)


# ---------------------------------------------------------------------------
# Events layout branch (user-bucketed (user_id, us)-sorted written layout)
# ---------------------------------------------------------------------------
def test_x7_range_join_layout_on_adversarial_events(
    spark, adversarial_events_dir, force_at_scale
):
    force_at_scale("x7_range_join")
    _assert_parity(spark, "x7_range_join", adversarial_events_dir, ("events",))


# ---------------------------------------------------------------------------
# Documents layout branches (ntok/cumsum layout; hub-contraction clustering)
# ---------------------------------------------------------------------------
@pytest.mark.parametrize("name", ["x9_pack", "x1_dedup_components"])
def test_docs_layout_branch_on_adversarial_docs(
    spark, adversarial_docs_dir, force_at_scale, name
):
    force_at_scale(name)
    _assert_parity(spark, name, adversarial_docs_dir, ("documents",))


# ---------------------------------------------------------------------------
# Embeddings: every oracle-bearing similarity/dedup op on planted degenerate
# vectors (zero-norm, exact duplicate, colinear). Found in round 13: ANSI Spark
# CRASHED the cosine on zero-norm vectors (DIVIDE_BY_ZERO) while the DuckDB
# oracle yields NULL — the NULLIF guard in ops/similarity.cosine is pinned here.
# ---------------------------------------------------------------------------
def test_ann_bruteforce_kernel_on_adversarial_embeddings(
    spark, adversarial_emb_dir, force_at_scale
):
    """The numpy kernel branch vs the SQL HOF oracle on zero-norm / duplicate /
    colinear vectors (test_ann pins NULL/ragged degradation; this pins the
    well-formed-but-degenerate rows cross-engine)."""
    force_at_scale("x2_ann_bruteforce")
    _assert_parity(spark, "x2_ann_bruteforce", adversarial_emb_dir, ("embeddings",))


@pytest.mark.parametrize("name", [
    "x2_ann_bruteforce",        # HOF fold branch (unforced: fixture < 100k rows)
    "x2_ann_ivf",
    "x2_ann_lsh",
    "x2_ann_lsh_multiprobe",
    "x2_knn_join",
    "x2_knn_join_ivf",
    "x2_embedding_project",
    "x1_embedding_neardup",
    "x1_semantic_dedup",
])
def test_embedding_ops_match_oracle_on_adversarial_embeddings(
    spark, adversarial_emb_dir, name
):
    _assert_parity(spark, name, adversarial_emb_dir, ("embeddings",))


@pytest.fixture(scope="module")
def degenerate_emb_dir(tmp_path_factory, adversarial_emb_dir):
    """The adversarial embeddings (zero-norm row 70, NaN components in rows 5 and
    80, clean query rows 0-3) plus a NULL element (row 30), a NULL embedding (row
    31) and a ragged 62-wide row (32), all outside the 16-row IVF codebook."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    tbl = pq.read_table(f"{adversarial_emb_dir}/embeddings.parquet")
    rows = tbl.column("embedding").to_pylist()
    rows[30][7] = None
    rows[31] = None
    rows[32] = rows[32][:62]
    d = tmp_path_factory.mktemp("degenemb")
    tbl = tbl.set_column(1, "embedding", pa.array(rows, pa.list_(pa.float32())))
    pq.write_table(tbl, str(d / "embeddings.parquet"))
    return str(d), rows


def _fold_class(e, q) -> int:
    """0 NaN, 1 real, 2 NULL: the class of the fold's cosine(e, q)."""
    import math

    if e is None or len(e) != len(q) or None in e:
        return 2
    denom = math.sqrt(sum(x * x for x in e)) * math.sqrt(sum(x * x for x in q))
    if denom == 0.0:
        return 2
    return 0 if math.isnan(sum(x * y for x, y in zip(e, q)) / denom) else 1


@pytest.mark.parametrize("name,kernel", [
    ("x2_ann_bruteforce", False),
    ("x2_ann_bruteforce", True),
    ("x2_ann_ivf", False),
    ("x2_ann_lsh", False),
    ("x2_ann_lsh_multiprobe", False),
    ("x2_ann_ivf_trained", False),
    ("x2_ann_ivfpq", False),
    ("x2_knn_join", False),
    ("x2_knn_join_ivf", False),
])
def test_x2_rows_share_one_degenerate_vector_contract(
    spark, degenerate_emb_dir, force_at_scale, name, kernel
):
    """One contract for every x2 ranking row: no crash; each returned sim is NULL
    exactly when the fold's cosine is NULL and NaN exactly when it is NaN, and a
    top-k ranks NaN first and NULL last (both engines); the oracle-bearing rows
    still equal their DuckDB oracle."""
    import math

    d, rows = degenerate_emb_dir
    if kernel:
        force_at_scale(name)
    got = [tuple(r) for r in REG[name].builder(spark, d).collect()]
    assert got
    for *qid, vec_id, sim in got:
        cls = _fold_class(rows[vec_id], rows[qid[0] if qid else 0])
        assert cls == (2 if sim is None else 0 if math.isnan(sim) else 1), (vec_id, sim)
    if not name.startswith("x2_knn"):
        classes = [_fold_class(rows[v], rows[0]) for v, _ in got]
        assert classes == sorted(classes), got
    if REG[name].oracle is not None:
        _assert_parity(spark, name, d, ("embeddings",))


def test_corpus_cluster_leaves_degenerate_rows_out(spark, degenerate_emb_dir):
    d, rows = degenerate_emb_dir
    got = REG["x2_corpus_cluster"].builder(spark, d).collect()
    assert sum(r.n_docs for r in got) == len(rows) - 5  # NaN rows 5, 80 and rows 30-32


def test_zero_norm_centroid_matches_oracle(spark, tmp_path_factory):
    """A zero vector INSIDE the codebook (first N_CENTROIDS rows): the oracle's
    cos(v, zero-centroid) is NULL and never wins the assignment ROW_NUMBER;
    _ivf_assign must skip it rather than divide by zero driver-side
    (invariant 35's centroid case)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from rubix_spark.ops.similarity import DIM

    rng = np.random.default_rng(47)
    m = rng.normal(size=(300, DIM)).astype(np.float32)
    m[2] = 0.0        # zero CENTROID (N_CENTROIDS = 16 > 2)
    m[100] = 0.0      # zero member too
    d = tmp_path_factory.mktemp("zerocent")
    pq.write_table(pa.table({
        "vec_id": pa.array(range(len(m)), pa.int64()),
        "embedding": pa.array(m.tolist(), pa.list_(pa.float32())),
        "label": pa.array([0] * len(m), pa.int32()),
    }), str(d / "embeddings.parquet"))
    for name in ("x2_ann_ivf", "x1_semantic_dedup", "x2_knn_join_ivf"):
        _assert_parity(spark, name, str(d), ("embeddings",))


# ---------------------------------------------------------------------------
# The ANALYZE/CBO-routed serving path on adversarial data. bench.py serves
# every scale query through catalog.analyze(route=True) — ANALYZE column stats,
# CBO on, catalog.table() reading the registered catalog tables — but the
# correctness gates only ever ran the path-based reads. q2 in particular
# answers float maxima from the ANALYZE stat STRINGS when routed.
# ---------------------------------------------------------------------------
_ALL_TABLES = (*_REL, "events", "documents", "embeddings")


@pytest.fixture(scope="module")
def adversarial_full_dir(
    tmp_path_factory, adversarial_wh_dir, adversarial_events_dir,
    adversarial_docs_dir, adversarial_emb_dir,
):
    """All ten fixture tables, adversarial, in ONE dir (route=True requires the
    full set)."""
    import shutil

    d = tmp_path_factory.mktemp("advfull")
    for src, tables in (
        (adversarial_wh_dir, _REL),
        (adversarial_events_dir, ("events",)),
        (adversarial_docs_dir, ("documents",)),
        (adversarial_emb_dir, ("embeddings",)),
    ):
        for t in tables:
            shutil.copy(f"{src}/{t}.parquet", str(d / f"{t}.parquet"))
    return str(d)


def _routed_names():
    """Oracle-bearing PRIORITY-window names — the driver's graded gate, served
    the way bench serves it. Streaming/cache rows drive their own sources and
    are exercised by their adversarial suites."""
    from rubix_spark.queries import PRIORITY

    skip_prefixes = ("s", "c")  # streaming lifecycles + cache scenarios
    return [
        n for n in PRIORITY
        if REG[n].oracle is not None and not n.startswith(skip_prefixes)
    ]


@pytest.fixture(scope="module")
def routed_spark(spark, adversarial_full_dir):
    from rubix_spark import catalog

    catalog.analyze(spark, adversarial_full_dir, route=True)
    return spark


@pytest.mark.parametrize("name", _routed_names())
def test_priority_window_matches_oracle_on_routed_adversarial_fixture(
    routed_spark, adversarial_full_dir, name
):
    _assert_parity(routed_spark, name, adversarial_full_dir, _ALL_TABLES)


# ---------------------------------------------------------------------------
# DIRECTORY-layout fixtures: every scale bench reads tables as directories of
# part-files (tools/gen_sf.py output, invariant 14), but oracle parity had only
# ever run on single-file fixtures — the isdir branches in footer stats, row
# counts, size-branch deciders and layout ingests were timed at sf1+ without a
# correctness check. Same adversarial rows, split into 3 parts per table.
# ---------------------------------------------------------------------------
@pytest.fixture(scope="module")
def adversarial_dirlayout_dir(tmp_path_factory, adversarial_full_dir):
    import pyarrow.parquet as pq

    d = tmp_path_factory.mktemp("advdirs")
    for t in _ALL_TABLES:
        tbl = pq.read_table(f"{adversarial_full_dir}/{t}.parquet")
        sub = d / f"{t}.parquet"
        sub.mkdir()
        n = max(1, tbl.num_rows // 3)
        for fi, off in enumerate(range(0, tbl.num_rows, n)):
            pq.write_table(tbl.slice(off, n), str(sub / f"part-{fi:03d}.parquet"))
    return str(d)


def _duck_rows_dirs(oracle: str, view_dir: str, tables) -> list:
    import duckdb

    con = duckdb.connect()
    for t in tables:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{view_dir}/{t}.parquet/*.parquet'"
        )
    try:
        return _canon(tuple(r) for r in con.execute(oracle).fetchall())
    finally:
        con.close()


@pytest.mark.parametrize("name", _routed_names())
def test_priority_window_matches_oracle_on_directory_fixture(
    spark, adversarial_dirlayout_dir, name
):
    q = REG[name]
    o = _duck_rows_dirs(q.oracle, adversarial_dirlayout_dir, _ALL_TABLES)
    s = _canon(tuple(r) for r in q.builder(spark, adversarial_dirlayout_dir).collect())
    assert s == o, f"{name}: spark={len(s)} rows, oracle={len(o)} rows"


@pytest.mark.parametrize("name,branch", [
    # the branch deciders and layout ingests all read footers through the isdir path
    ("q3_agg_having", "q3_agg_having"),
    ("q4_star_join", "q4_star_join"),
    ("q30_yoy_delta", "q30_yoy_delta"),
    ("q31_grouping_sets", "q31_agg_live"),
    ("q31_agg_live", "q31_agg_live"),
    ("x7_range_join", "x7_range_join"),
    ("x4_udf_grouped_median", "x4_udf_grouped_median"),
    ("x9_pack", "x9_pack"),
    ("x2_ann_bruteforce", "x2_ann_bruteforce"),
])
def test_layout_branch_matches_oracle_on_directory_fixture(
    spark, adversarial_dirlayout_dir, force_at_scale, name, branch
):
    force_at_scale(branch)
    q = REG[name]
    o = _duck_rows_dirs(q.oracle, adversarial_dirlayout_dir, _ALL_TABLES)
    s = _canon(tuple(r) for r in q.builder(spark, adversarial_dirlayout_dir).collect())
    assert s == o, f"{name}: spark={len(s)} rows, oracle={len(o)} rows"
