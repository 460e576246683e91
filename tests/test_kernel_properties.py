"""Adversarial-input equivalence for the r12 session-2 vectorized kernels.

The oracle gate proves these on the fixture corpora; these tests pin them on
synthetic inputs built to hit the edge cases the fixtures don't: empty/punct-only
docs, underscore runs (RE2 \\b word chars!), unicode that lowercases differently
across engines, all-NaN median groups, NULL group keys, duplicate and zero
vectors, and forced multi-tile cluster decomposition.
"""

from __future__ import annotations

import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from pyspark.sql import functions as F

from rubix_spark.ops import dedup
from rubix_spark.queries import load_all

REG = load_all()


@pytest.fixture(scope="module")
def adversarial_docs_dir(tmp_path_factory):
    rng = random.Random(11)
    vocab = ["the", "cat", "sat", "Mat", "42", "x1", "ünïcode", "İstanbul", "a"]
    punct = ["", " ", "  ", "_", "__", "...", "—", "\t", "\n"]
    texts = [
        "",                      # no tokens
        "...!!!___",             # punct only -> no tokens
        "one",                   # 1 token  (no 3-grams)
        "one two",               # 2 tokens (no 3-grams)
        "one two three",         # exactly one 3-gram
        "a a a a a a",           # maximal repetition
        "_the_the_the_",         # underscores are separators for tokens() but WORD
                                 # chars for RE2 \b — the class of bug the kernels
                                 # must not reintroduce
        "İİİ ßß the THE The tHe",  # unicode stripped before lowering
        " ".join(["tok"] * 500),   # long single-token run
    ]
    for _ in range(200):
        n = rng.randint(0, 40)
        texts.append("".join(rng.choice(vocab) + rng.choice(punct) for _ in range(n)))
    d = tmp_path_factory.mktemp("advdocs")
    tbl = pa.table({
        "doc_id": pa.array(range(len(texts)), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(["en"] * len(texts)),
        "source": pa.array(["synth"] * len(texts)),
        "n_chars": pa.array([len(t) for t in texts], pa.int32()),
    })
    pq.write_table(tbl, str(d / "documents.parquet"))
    return str(d)


def test_repetition_kernel_matches_explode_on_adversarial_text(spark, adversarial_docs_dir):
    """The zero-shuffle Arrow kernel and the explode+countDistinct body share one
    oracle; on adversarial text they must agree row-for-row."""
    k = sorted((r.doc_id, r.dup3_ratio) for r in
               REG["x9_repetition"].builder(spark, adversarial_docs_dir).collect())
    e = sorted((r.doc_id, r.dup3_ratio) for r in
               REG["x9_repetition_explode"].builder(spark, adversarial_docs_dir).collect())
    assert k == e
    assert len(k) > 50  # the random docs actually produced 3-grams


def test_median_value_kernel_matches_pandas_model(spark):
    """median_value (x4_udf_grouped_median_pandas' grouped-aggregate UDF) vs a
    driver-side model with the exact pd.Series.median semantics: NULL/NaN skipped,
    all-NULL and all-NaN groups -> NULL, NULL group key kept as its own group, odd
    and even group sizes interpolated."""
    import math

    from rubix_spark.ops.udf import median_value

    rng = random.Random(23)
    rows = []
    for _ in range(3000):
        uid = rng.choice([None, 1, 2, 3, 5, 8, 13, 21, 34, 55])
        v = rng.choice([None, float("nan"), rng.uniform(-100, 100),
                        rng.uniform(-100, 100), rng.uniform(-100, 100)])
        rows.append((uid, v))
    rows += [(99, None), (98, float("nan")), (97, 1.5), (96, 1.0), (96, 4.0)]
    df = spark.createDataFrame(rows, "user_id bigint, value double")
    got = {
        r.user_id: r.med
        for r in df.groupBy("user_id").agg(median_value("value").alias("med")).collect()
    }
    from collections import defaultdict
    groups = defaultdict(list)
    for uid, v in rows:
        groups[uid].append(v)
    assert set(got) == set(groups)
    for uid, vals in groups.items():
        clean = sorted(v for v in vals if v is not None and not math.isnan(v))
        if not clean:
            assert got[uid] is None, (uid, got[uid])
            continue
        mid = (clean[(len(clean) - 1) // 2] + clean[len(clean) // 2]) / 2.0
        assert math.isclose(got[uid], mid, rel_tol=1e-12, abs_tol=1e-12), (uid, got[uid], mid)


@pytest.fixture(scope="module")
def adversarial_emb_dir(tmp_path_factory):
    # dim must be the engine contract's DIM: the JL projection matrix and the
    # LSH hyperplanes are fixed 64-wide literals, and Spark's zip_with pads a
    # ragged zip with NULL (dot -> NULL) while DuckDB's list_aggregate skips
    # NULLs (partial sum) — a narrower fixture diverges by construction, not by
    # defect (the fixed-width contract is TESTDATA.md's).
    from rubix_spark.ops.similarity import DIM

    rng = np.random.default_rng(31)
    n, dim = 600, DIM
    m = rng.normal(size=(n, dim)).astype(np.float32)
    m[50] = m[40]          # exact duplicate pair
    m[60] = 2.0 * m[40]    # colinear (cos == 1 after normalize)
    m[70] = 0.0            # zero vector (norm guard)
    # NaN COMPONENTS (r13 review family): both engines score such pairs NaN and
    # rank NaN greatest (NaN >= tau TRUE, DESC-first — verified), so every
    # kernel/driver replica and the round_det finalize must carry NaN through
    # rather than coerce (Spark FLOOR->bigint gave 0.0), bury it (np.lexsort),
    # or skip the row (Python NaN>0 False). One inside the codebook (a NaN
    # centroid wins every assignment in BOTH engines), one in the corpus.
    m[5, 0] = np.float32("nan")
    m[80, 3] = np.float32("nan")
    d = tmp_path_factory.mktemp("advemb")
    tbl = pa.table({
        "vec_id": pa.array(range(n), pa.int64()),
        "embedding": pa.array([row for row in m.tolist()], pa.list_(pa.float32())),
        "label": pa.array([0] * n, pa.int32()),
    })
    pq.write_table(tbl, str(d / "embeddings.parquet"))
    return str(d)


def test_sem_tile_decomposition_matches_direct_kernel(spark, adversarial_emb_dir, monkeypatch):
    """Forced multi-tile decomposition (nb > 1) must keep exactly the vectors the
    direct per-cluster kernel keeps, including exact-dup / colinear / zero rows."""
    direct = {(r.vec_id, r.cid, r.kept) for r in
              REG["x1_semantic_dedup_np"].builder(spark, adversarial_emb_dir).collect()}
    monkeypatch.setattr(dedup, "SEM_TILE_ROWS", 8)  # 600/16/8 -> nb >= 5
    tiled = {(r.vec_id, r.cid, r.kept) for r in
             REG["x1_semantic_dedup_np"].builder(spark, adversarial_emb_dir).collect()}
    assert direct == tiled
    kept = {v for v, _, k in direct if k == 0}
    assert 50 in kept or 60 in kept  # the planted duplicates actually dropped rows


def test_hub_components_match_pairs_on_random_buckets(spark):
    """_hub_components_from_bands vs all-pairs CC on adversarial bucket
    structures: overlapping chains (hub chains longer than the clique diameter),
    singleton buckets (must NOT appear in the output), and shared-member bridges."""
    from rubix_spark.ops.dedup import _hub_components_from_bands, connected_components

    rng = random.Random(41)
    bands = []
    # chain of buckets overlapping by one doc: 0-4, 4-8, 8-12, ... (long hub chain)
    for b in range(12):
        for doc in range(b * 4, b * 4 + 5):
            bands.append((doc, 0, str(b)))
    # random buckets incl. singletons
    for b in range(40):
        size = rng.choice([1, 1, 2, 3, 5])
        docs = rng.sample(range(100, 200), size)
        for doc in docs:
            bands.append((doc, 1, str(b)))
    bdf = spark.createDataFrame(bands, "doc_id bigint, band int, band_key string")
    hub = sorted(map(tuple, _hub_components_from_bands(bdf).collect()))

    # reference: all-pairs edges within each bucket -> CC
    from collections import defaultdict
    buckets = defaultdict(list)
    for doc, band, key in bands:
        buckets[(band, key)].append(doc)
    pairs = set()
    for docs in buckets.values():
        docs = sorted(set(docs))
        for i in range(len(docs)):
            for j in range(i + 1, len(docs)):
                pairs.add((docs[i], docs[j]))
    if pairs:
        pdf = spark.createDataFrame(sorted(pairs), "doc_a bigint, doc_b bigint")
        ref = sorted(map(tuple, connected_components(pdf, "doc_a", "doc_b").collect()))
    else:
        ref = []
    assert hub == ref


def _canon(rows):
    """None/NaN-safe canonical form for result-set comparison: tuples with NULLs
    are not sortable with bare < (NULLs order last within their column), and a
    raw float NaN fails == even against itself — both engines legitimately
    return NaN cells (the r13 NaN-component family), so NaN canonicalizes to a
    sentinel string that compares equal across engines."""
    import math

    def cell(x):
        if isinstance(x, float) and math.isnan(x):
            return "NaN"
        return x

    rows = [tuple(cell(x) for x in row) for row in rows]
    return sorted(rows, key=lambda row: tuple((x is None, str(x)) for x in row))


@pytest.mark.parametrize("name", [
    "x9_repetition", "x1_substring_dedup", "x3_fingerprint",
    "x3_quality", "x3_token_count", "x3_langid",
    "x1_dedup_exact", "x1_dedup_keep_first", "x1_minhash_lsh",
    "x1_dedup_components", "x1_simhash", "x1_ngram_jaccard",
    "x1_diversity_keep", "x1_incremental_neardup",
    "x3_text_stats", "x3_token_stats", "x3_quality_jvm", "x3_unigram_lm",
    "x3_keywords", "x9_chunk", "x9_sample_strata", "x9_contamination",
    "x9_pii_redact", "x9_token_hist", "x9_boilerplate", "x9_train_test",
    "x9_pack", "x9_mixture", "x5_multimodal_meta", "x5_multimodal_decode",
    "x5_frame_sample", "x5_resize", "x5_multimodal_meta_kernel",
    "x5_multimodal_decode_kernel", "x5_frame_sample_kernel", "x5_resize_kernel", "x4_udtf_explode", "x9_e2e_pipeline",
    "x9_e2e_shards", "x1_incremental_neardup_persisted",
])
def test_text_ops_match_oracle_on_adversarial_text(spark, adversarial_docs_dir, name):
    """Cross-engine parity beyond the generated fixtures: each text op's Spark
    plan and its DuckDB oracle must agree on the edge-case corpus (unicode that
    case-folds differently, underscore runs, empty/punct-only docs). This is the
    tokenizer-parity property test extended to the full operators."""
    import duckdb

    q = REG[name]
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{adversarial_docs_dir}/documents.parquet'"
    )
    o = _canon(tuple(r) for r in con.execute(q.oracle).fetchall())
    con.close()
    s = _canon(tuple(r) for r in q.builder(spark, adversarial_docs_dir).collect())
    assert s == o, f"{name}: spark={len(s)} rows, oracle={len(o)} rows; first diff: " + str(
        next((a, b) for a, b in zip(s, o) if a != b) if len(s) == len(o) else "row count"
    )


@pytest.fixture(scope="module")
def adversarial_events_dir(tmp_path_factory):
    """events within the FIXTURES.md contract but at its edges: NULL user_id /
    value / ts / event_type, duplicate (user, ts) pairs, one hot user, epoch and
    far-future timestamps, unknown/empty/unicode event types, JSON props with
    missing keys. (NaN values are exercised by the median-kernel model test —
    the money-sum ops' contract is plain doubles.)"""
    import datetime

    rng = random.Random(53)
    types = ["click", "view", "purchase", "signup", "error", "unknown", "", "tÿpe", None]
    base = datetime.datetime(2024, 1, 1)
    rows = []
    for i in range(4000):
        uid = rng.choice([None, 1, 2, 3, 4, 7, 7, 7, 7, 11])  # 7 is hot
        ts = rng.choice([
            None,
            datetime.datetime(1970, 1, 1, 0, 0, 1),
            datetime.datetime(2100, 1, 1),
            base + datetime.timedelta(seconds=rng.randint(0, 3600)),
            base + datetime.timedelta(seconds=rng.randint(0, 60)),  # dup-prone
        ])
        val = rng.choice([None, 0.0, -1.5, rng.uniform(-1e6, 1e6)])
        k = rng.choice(['{"k": %d}' % rng.randint(-5, 5), '{"other": 1}', '{}', None])
        rows.append((i, ts, uid, rng.choice(types), val, k))
    d = tmp_path_factory.mktemp("advevents")
    tbl = pa.table({
        "event_id": pa.array([r[0] for r in rows], pa.int64()),
        "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
        "user_id": pa.array([r[2] for r in rows], pa.int64()),
        "event_type": pa.array([r[3] for r in rows], pa.string()),
        "value": pa.array([r[4] for r in rows], pa.float64()),
        "props": pa.array([r[5] for r in rows], pa.string()),
    })
    pq.write_table(tbl, str(d / "events.parquet"))
    return str(d)


@pytest.mark.parametrize("name", [
    "q20_time_bucket", "q22_json_extract", "x4_udf_scalar",
    "x4_udf_grouped_median", "x4_udf_grouped_median_pandas", "x4_udf_grouped_map",
    "x7_asof_join", "x7_asof_join_pandas", "x7_range_join",
    "x8_pivot", "x8_unpivot", "x10_rollup_cascade",
])
def test_events_ops_match_oracle_on_adversarial_events(spark, adversarial_events_dir, name):
    """Cross-engine parity on edge-case events: NULL keys/timestamps/values,
    duplicate (user, ts), hot keys, unknown event types."""
    import duckdb

    q = REG[name]
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM '{adversarial_events_dir}/events.parquet'"
    )
    o = _canon(tuple(r) for r in con.execute(q.oracle).fetchall())
    con.close()
    s = _canon(tuple(r) for r in q.builder(spark, adversarial_events_dir).collect())
    assert s == o, f"{name}: spark={len(s)} rows, oracle={len(o)} rows; first diff: " + str(
        next(((a, b) for a, b in zip(s, o) if a != b), None) if len(s) == len(o) else "row count"
    )


def test_stateful_sessionizer_on_adversarial_events(spark, adversarial_events_dir):
    """s4 (applyInPandasWithState): NULL event times are dropped (event-time
    contract) and NULL values carry SQL SUM semantics — the old kernel CRASHED
    the stream on either (math.floor(NaN); NaT astype-int64 garbage)."""
    import duckdb

    q = REG["s4_stateful_session"]
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM '{adversarial_events_dir}/events.parquet'"
    )
    o = _canon(tuple(r) for r in con.execute(q.oracle).fetchall())
    con.close()
    s = _canon(tuple(r) for r in q.builder(spark, adversarial_events_dir).collect())
    assert s == o, f"spark={len(s)} oracle={len(o)}"


def test_contamination_kernel_survives_null_text(spark, tmp_path):
    """A NULL text row must contribute no contamination hit, like SQL LIKE on
    NULL — the old kernel's object-dtype [True, None] mask crashed the whole
    query with IndexError (r13 review)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path / "nulldocs"
    d.mkdir()
    pq.write_table(pa.table({
        "doc_id": pa.array([1, 2, 3], pa.int64()),
        "text": pa.array(["data spark sql wins", None, "nothing here"], pa.string()),
        "lang": pa.array(["en"] * 3, pa.string()),
        "source": pa.array(["s"] * 3, pa.string()),
        "n_chars": pa.array([10, 0, 12], pa.int32()),
    }), str(d / "documents.parquet"))
    got = _canon(tuple(r) for r in REG["x9_contamination"].builder(spark, str(d)).collect())
    o = REG["x9_contamination"].oracle
    import duckdb

    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{d}/documents.parquet'")
    assert got == _canon(tuple(r) for r in con.execute(o).fetchall())
    assert got == [(1, "data spark sql")]


def test_lsh_bucket_driver_replica_matches_engine_on_nan(spark):
    """_py_bucket must agree with the ENGINE's sign rule for a NaN-component
    query: Spark's `dot > 0` is TRUE for NaN (NaN compares greatest), Python's
    is False — the replica carries an explicit isnan branch (r13 review)."""
    import math

    from pyspark.sql import functions as F

    from rubix_spark.ops.similarity import DIM, _lsh_bucket, _py_bucket

    vec = [0.0] * DIM
    vec[0] = float("nan")
    df = spark.createDataFrame([(vec,)], "embedding array<float>")
    engine = df.select(_lsh_bucket().alias("b")).head().b
    assert _py_bucket(vec) == engine
    # and a clean vector still matches (regression guard on the isnan branch)
    clean = [float(i % 7 - 3) for i in range(DIM)]
    df2 = spark.createDataFrame([(clean,)], "embedding array<float>")
    assert _py_bucket(clean) == df2.select(_lsh_bucket().alias("b")).head().b
