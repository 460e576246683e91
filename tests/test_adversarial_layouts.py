"""Forced layout-branch oracle parity on the ADVERSARIAL corpora.

Two prior programs compose here, each leaving the other's blind spot:

- The adversarial corpora (test_adversarial_relational / test_kernel_properties)
  run every oracle-bearing query on NULL-key / dangling-key / unicode / hot-key
  data — but the corpora are tiny, so every size-adaptive body (``AT_SCALE``)
  picks its SMALL branch there.
- The forced-branch suite (test_denorm_layout) pins each at-scale body against
  its oracle — but only on the FRIENDLY generated fixture (no NULL group keys, no
  dangling FKs, no empty docs).

This module forces the at-scale branches onto the adversarial corpora, so the
code path that actually runs at sf10+ is the one proven at the contract's edges.
Fixtures are imported from the sibling modules (pytest resolves fixtures through
the module namespace).
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
    ("q30_yoy_delta", ("q30_yoy_delta",)),
    # dictionary-probe variant of the q30 tail (brand rides as an int id); only
    # the small body consults q30_brand_dict, so q30_yoy_delta stays unforced
    ("q30_yoy_delta", ("q30_brand_dict",)),
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


@pytest.fixture(scope="module")
def degenerate_codebook_emb_dir(tmp_path_factory, degenerate_emb_dir):
    """degenerate_emb_dir plus a NULL embedding (row 9) and a NULL element (row
    12) INSIDE the 16-row IVF codebook: such a centroid scores NULL and never wins
    an assignment or a probe slot."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    src, rows = degenerate_emb_dir
    tbl = pq.read_table(f"{src}/embeddings.parquet")
    rows = [None if r is None else list(r) for r in rows]
    rows[9] = None
    rows[12][40] = None
    d = tmp_path_factory.mktemp("degencodebook")
    tbl = tbl.set_column(1, "embedding", pa.array(rows, pa.list_(pa.float32())))
    pq.write_table(tbl, str(d / "embeddings.parquet"))
    return str(d), rows


_DEGENERATE_DIRS = ["degenerate_emb_dir", "degenerate_codebook_emb_dir"]


def _fold_class(e, q) -> int:
    """0 NaN, 1 real, 2 NULL: the class of the fold's cosine(e, q)."""
    import math

    if e is None or len(e) != len(q) or None in e:
        return 2
    denom = math.sqrt(sum(x * x for x in e)) * math.sqrt(sum(x * x for x in q))
    if denom == 0.0:
        return 2
    return 0 if math.isnan(sum(x * y for x, y in zip(e, q)) / denom) else 1


@pytest.mark.parametrize("emb", _DEGENERATE_DIRS)
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
    spark, request, force_at_scale, name, kernel, emb
):
    """One contract for every x2 ranking row: no crash; each returned sim is NULL
    exactly when the fold's cosine is NULL and NaN exactly when it is NaN, and a
    top-k ranks NaN first and NULL last (both engines); the oracle-bearing rows
    still equal their DuckDB oracle."""
    import math

    d, rows = request.getfixturevalue(emb)
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


@pytest.mark.parametrize("emb", _DEGENERATE_DIRS)
@pytest.mark.parametrize("name", [
    "x2_embedding_project", "x1_embedding_neardup", "x1_semantic_dedup",
])
def test_embedding_dots_share_one_null_rule(spark, request, name, emb):
    """Every DuckDB dot follows the Spark fold's rule: a NULL, NULL-element or
    ragged vector's dot is NULL (a projection row is all-NULL, a pair never
    scores), and a NULL codebook row neither crashes nor wins a cluster."""
    d, rows = request.getfixturevalue(emb)
    if name == "x2_embedding_project":
        for r in REG[name].builder(spark, d).collect():
            e = rows[r.vec_id]
            bad = e is None or None in e or len(e) != len(rows[0])
            assert (r.p0 is None) == bad, (r.vec_id, r.p0)
    _assert_parity(spark, name, d, ("embeddings",))


# One vector of each class the fold's rule tells apart, 4 wide (values exact in
# float32, so every product and sum is exact in both engines).
_VEC_CLASSES = {
    "clean": [0.5, -1.0, 2.0, 0.25],
    "zero": [0.0, 0.0, 0.0, 0.0],
    "nan": [0.5, float("nan"), 2.0, 0.25],
    "null": None,
    "null_elem": [0.5, None, 2.0, 0.25],
    "short": [0.5, -1.0, 2.0],
    "long": [0.5, -1.0, 2.0, 0.25, 1.0],
}


def _model_dot(a, b):
    """The fold's rule: NULL unless both vectors are non-NULL, NULL-free and
    equally wide; otherwise the sequential sum (NaN propagates)."""
    if a is None or b is None or None in a or None in b or len(a) != len(b):
        return None
    return sum(x * y for x, y in zip(a, b))


def _model_cos(a, b):
    """NULL where the dot is NULL or a norm is zero (the NULLIF guard)."""
    import math

    d = _model_dot(a, b)
    if d is None:
        return None
    denom = math.sqrt(_model_dot(a, a)) * math.sqrt(_model_dot(b, b))
    return None if denom == 0.0 else d / denom


def _same_cell(got, want) -> bool:
    import math

    if want is None or got is None:
        return got is None and want is None
    if math.isnan(want) or math.isnan(got):
        return math.isnan(want) and math.isnan(got)
    return math.isclose(got, want, rel_tol=1e-12, abs_tol=1e-15)


def _spark_scores(spark, a, fn_col, fn_lit) -> dict:
    """{class: (column form, literal form)} of ``fn(a, class vector)`` in Spark."""
    from pyspark.sql import functions as F

    names = list(_VEC_CLASSES)
    schema = ", ".join(["a array<float>"] + [f"b_{n} array<float>" for n in names])
    df = spark.createDataFrame([(a, *(_VEC_CLASSES[n] for n in names))], schema)
    row = df.select(
        *[fn_col(F.col("a"), F.col(f"b_{n}")).alias(f"c_{n}") for n in names],
        *[fn_lit("a", _VEC_CLASSES[n]).alias(f"l_{n}") for n in names],
    ).collect()[0]
    return {n: (row[f"c_{n}"], row[f"l_{n}"]) for n in names}


def _duck_vec(v) -> str:
    # a SQL literal: a bound Python NaN would reach DuckDB as NULL
    if v is None:
        return "CAST(NULL AS FLOAT[])"
    cells = ["NULL" if x is None else f"'{x!r}'::FLOAT" for x in v]
    return f"CAST([{', '.join(cells)}] AS FLOAT[])"


def _duck_scores(expr_of) -> dict:
    """{(class a, class b): DuckDB value of ``expr_of('a', 'b')``}."""
    import duckdb

    con = duckdb.connect()
    try:
        return {
            (na, nb): con.execute(
                f"SELECT {expr_of('a', 'b')} FROM "
                f"(SELECT {_duck_vec(va)} AS a, {_duck_vec(vb)} AS b)"
            ).fetchone()[0]
            for na, va in _VEC_CLASSES.items()
            for nb, vb in _VEC_CLASSES.items()
        }
    finally:
        con.close()


@pytest.mark.parametrize("cls", list(_VEC_CLASSES))
def test_dot_null_rule_is_one_rule(spark, cls):
    """Spark's column fold, its literal-vector form and DuckDB's DUCK_DOT give the
    same dot of one vector class against every class: NULL for a NULL,
    NULL-element or differently wide operand, NaN through a NaN component."""
    from rubix_spark.ops.similarity import DUCK_DOT, dot, dot_lit

    a = _VEC_CLASSES[cls]
    sp = _spark_scores(spark, a, dot, dot_lit)
    duck = _duck_scores(lambda x, y: DUCK_DOT.format(a=x, b=y))
    for nb, vb in _VEC_CLASSES.items():
        want = _model_dot(a, vb)
        got = {"spark": sp[nb][0], "spark_lit": sp[nb][1], "duckdb": duck[(cls, nb)]}
        assert all(_same_cell(g, want) for g in got.values()), (cls, nb, want, got)


@pytest.mark.parametrize("cls", list(_VEC_CLASSES))
def test_cosine_null_rule_is_one_rule(spark, cls):
    """The four cosines — Spark's column and literal forms, DuckDB's _duck_cos and
    the driver-side _py_cos that ranks IVF probes — agree per class pair: NULL
    (-inf driver-side, which ranks last like NULL) for a malformed or zero-norm
    operand, NaN through a NaN component, the same value otherwise."""
    from rubix_spark.ops.similarity import _duck_cos, _py_cos, cosine, cosine_lit

    a = _VEC_CLASSES[cls]
    sp = _spark_scores(spark, a, cosine, cosine_lit)
    duck = _duck_scores(_duck_cos)
    for nb, vb in _VEC_CLASSES.items():
        want = _model_cos(a, vb)
        py = _py_cos(a, vb)
        got = {
            "spark": sp[nb][0], "spark_lit": sp[nb][1], "duckdb": duck[(cls, nb)],
            "py": None if py == float("-inf") else py,
        }
        assert all(_same_cell(g, want) for g in got.values()), (cls, nb, want, got)


def test_corpus_cluster_leaves_degenerate_rows_out(spark, degenerate_emb_dir):
    d, rows = degenerate_emb_dir
    got = REG["x2_corpus_cluster"].builder(spark, d).collect()
    assert sum(r.n_docs for r in got) == len(rows) - 5  # NaN rows 5, 80 and rows 30-32


@pytest.mark.parametrize(
    "bad", ["zero", "null", "null_elem", "ragged", "nan", "null_last", "all_null"])
def test_zero_norm_centroid_matches_oracle(spark, tmp_path_factory, bad):
    """A zero vector INSIDE the codebook (first N_CENTROIDS rows): the oracle's
    cos(v, zero-centroid) is NULL and never wins the assignment ROW_NUMBER;
    _ivf_assign must score it NULL rather than divide by zero driver-side
    (invariant 35's centroid case). A NULL, NULL-element or ragged centroid at
    cid 0 scores NULL the same way, and a member of that kind, which every
    centroid scores NULL, takes cid 0 as the oracle's tie rule does. A NaN
    centroid scores NaN, which both engines rank first. A NULL centroid with the
    largest cid, and a codebook of NULL rows only, follow the same rules."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from rubix_spark.ops.similarity import DIM, N_CENTROIDS

    rng = np.random.default_rng(47)
    m = rng.normal(size=(300, DIM)).astype(np.float32).tolist()
    if bad == "zero":
        m[2] = [0.0] * DIM    # zero CENTROID (N_CENTROIDS = 16 > 2)
        m[100] = [0.0] * DIM  # zero member too
    elif bad == "null":
        m[0] = None           # NULL centroid with the smallest cid
        m[100] = None         # NULL member
    elif bad == "null_elem":
        m[0][5] = None
        m[100][7] = None
    elif bad == "ragged":
        m[0] = m[0][:DIM - 2]
        m[100] = m[100][:DIM - 2]
    elif bad == "nan":
        m[0][5] = float("nan")  # NaN CENTROID: every well-formed row scores NaN
    elif bad == "null_last":
        m[N_CENTROIDS - 1] = None
        m[100] = None
    else:
        for i in range(N_CENTROIDS):
            m[i] = None
    d = tmp_path_factory.mktemp("zerocent")
    pq.write_table(pa.table({
        "vec_id": pa.array(range(len(m)), pa.int64()),
        "embedding": pa.array(m, pa.list_(pa.float32())),
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


@pytest.mark.parametrize("name,branches", [
    # the branch deciders and layout ingests all read footers through the isdir
    # path; x9_pack's docs_ntok ingest and q28_tpch_q1's dictionary-id decode sit
    # outside the PRIORITY sweep above, and so does q30's brand dictionary probe
    ("q30_yoy_delta", ("q30_yoy_delta",)),
    ("q31_grouping_sets", ("q31_agg_live",)),
    ("q31_agg_live", ("q31_agg_live",)),
    ("x9_pack", ()),
    ("x2_ann_bruteforce", ("x2_ann_bruteforce",)),
    ("q28_tpch_q1", ()),
    ("q30_yoy_delta", ("q30_brand_dict",)),
])
def test_layout_branch_matches_oracle_on_directory_fixture(
    spark, adversarial_dirlayout_dir, force_at_scale, name, branches
):
    force_at_scale(*branches)
    q = REG[name]
    o = _duck_rows_dirs(q.oracle, adversarial_dirlayout_dir, _ALL_TABLES)
    s = _canon(tuple(r) for r in q.builder(spark, adversarial_dirlayout_dir).collect())
    assert s == o, f"{name}: spark={len(s)} rows, oracle={len(o)} rows"
