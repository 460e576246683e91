"""X1 — deduplication operators over the ``documents`` / ``embeddings`` tables.

Seven flavors, each a registered query (DuckDB oracle unless noted):

- exact (hash-groupBy on full text)
- keep-first exact dedup (min doc_id per text group)
- MinHash + LSH (shingle → 16 minhash functions → 4 bands × 4 rows → band-key self-join)
- SimHash (per-token 32-bit hash → ±1 bit votes → 32-bit signature → 8-bit band join +
  hamming ≤ 3 verify)
- n-gram Jaccard (shingle inverted index join, document-frequency cap to bound fanout)
- embedding cosine near-dup (blocked self-join; exact cosine verify within blocks)
- SemDeDup-style semantic dedup (IVF-codebook clusters, within-cluster prune; + BLAS twin)
- near-dup clustering: connected components over the LSH candidate graph

Scale design (100 TB posture):
- all candidate generation is *join-on-key* (band key / shingle / block id) — never an
  unblocked O(n²) cross join;
- hot shingles are capped by document frequency (the classic inverted-index skew guard);
  the cap is applied identically in the oracle, so correctness checks still pass;
- minhash signatures are computed from a *distinct-shingle dictionary* so each shingle is
  hashed once per hash function, then joined back (map-side combine keeps the explode
  narrow).
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from rubix_spark import catalog
from rubix_spark.fns import round_det
from rubix_spark.ops import _tok
from rubix_spark.queries import REGISTRY, at_scale, register, table_rows

N_HASHES = 16
N_BANDS = 4  # 4 rows per band
SHINGLE_K = 3
MAX_SHINGLE_DF = 50  # inverted-index document-frequency cap (skew guard)

# Universal-hash family for minhash: h_i(x) = (a_i * x + b_i) mod P over the 32-bit
# base hash of a shingle. One md5 per shingle total; the 16 signature functions are pure
# integer arithmetic (JVM codegen'd, no per-hash string hashing). Constants are derived
# from md5 at import time so Spark and the DuckDB oracle embed identical literals.
# a_i bounded < 10^6 so a_i * h < 2^52 — no 64-bit overflow in either engine.
_P = 4294967311  # prime > 2^32


def _const32(seed: str) -> int:
    return int(hashlib.md5(seed.encode()).hexdigest()[:8], 16)


_A = [(_const32(f"a{i}") % 999983) | 1 for i in range(N_HASHES)]
_B = [_const32(f"b{i}") % _P for i in range(N_HASHES)]


def _doc_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = catalog.table(spark, sf_dir, "documents")
    # materialize the token array in its own projection: referencing tokens(text) inside
    # the shingle transform lambda would re-run the regex+split per element access
    toks = docs.select("doc_id", _tok.tokens("text").alias("toks"))
    return (
        toks.select("doc_id", F.explode(_tok.shingles(F.col("toks"), SHINGLE_K)).alias("sh"))
        .distinct()
    )


_DUCK_DOC_SHINGLES = f"""
    SELECT DISTINCT doc_id, unnest({_tok.duck_shingles(_tok.duck_tokens('text'), SHINGLE_K)}) AS sh
    FROM documents
"""


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------
@register(
    "x1_dedup_exact",
    """
    SELECT COUNT(*) AS dup_groups, COALESCE(CAST(SUM(c - 1) AS BIGINT), 0) AS extra_copies
    FROM (SELECT text, COUNT(*) AS c FROM documents GROUP BY text HAVING COUNT(*) > 1)
    """,
    doc="Exact dedup census: hash-groupBy on an xxhash64 pair of the text — 16-byte group keys shuffle, never the documents.",
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group key = (xxhash64(text), xxhash64(1, text)) — the substring-dedup pair
    trick (r12): partial aggregation already collapses to one row per distinct text
    per partition, but with ``groupBy(text)`` each distinct DOCUMENT still crosses
    the exchange as its own group key (~KBs/row). The salted pair is an effective
    128-bit key (birthday-safe at corpus scale), 16 bytes through the shuffle, long
    comparisons in the hash map. The hash is engine-internal: both engines only
    compare group COUNTS, so the oracle keeps GROUP BY text."""
    docs = catalog.table(spark, sf_dir, "documents")
    keyed = docs.select(
        F.xxhash64(F.col("text")).alias("h1"),
        F.xxhash64(F.lit(1), F.col("text")).alias("h2"),
    )
    groups = keyed.groupBy("h1", "h2").agg(F.count("*").alias("c")).where(F.col("c") > 1)
    # COALESCE on both sides: a NULL BIGINT materializes as float NaN via pandas on the
    # DuckDB side but None on the Spark side — the driver's value hash would diverge
    return groups.agg(
        F.count("*").alias("dup_groups"),
        F.coalesce(F.sum(F.col("c") - 1), F.lit(0).cast("long")).alias("extra_copies"),
    )


@register(
    "x1_dedup_keep_first",
    """
    SELECT COUNT(*) AS n_unique, CAST(SUM(n_chars) AS BIGINT) AS kept_chars
    FROM (
        SELECT MIN(doc_id) AS doc_id, MIN(n_chars) AS n_chars
        FROM documents GROUP BY text
    )
    """,
    doc="Keep-first dedup: one survivor (min doc_id) per identical text; groups on the xxhash64 pair so texts never shuffle.",
)
def dedup_keep_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same salted xxhash64-pair group key as x1_dedup_exact (r12) — the survivor
    set (min doc_id per identical text) is identical under the 128-bit key, and the
    exchange moves (16-byte key, doc_id, n_chars) instead of whole documents."""
    docs = catalog.table(spark, sf_dir, "documents")
    keyed = docs.select(
        F.xxhash64(F.col("text")).alias("h1"),
        F.xxhash64(F.lit(1), F.col("text")).alias("h2"),
        "doc_id", "n_chars",
    )
    kept = keyed.groupBy("h1", "h2").agg(
        F.min("doc_id").alias("doc_id"), F.min("n_chars").alias("n_chars")
    )
    return kept.agg(F.count("*").alias("n_unique"), F.sum("n_chars").alias("kept_chars"))


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------
def _duck_sig_cols() -> str:
    return ",\n               ".join(
        f"MIN(({_A[i]} * h + {_B[i]}) % {_P}) AS s{i}" for i in range(N_HASHES)
    )


def _duck_band_structs() -> str:
    rpb = N_HASHES // N_BANDS
    items = []
    for b in range(N_BANDS):
        key = " , ',' , ".join(f"s{b * rpb + j}" for j in range(rpb)).replace(" , ", ", ")
        items.append(f"{{'band': {b}, 'k': concat({key})}}")
    return "[" + ", ".join(items) + "]"


def _band_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, band, band_key) MinHash band table, eagerly checkpointed — the joins
    over it (self-join in x1_minhash_lsh, batch-vs-corpus in x1_incremental_neardup)
    would otherwise recompute the tokenize→shingle→minhash pipeline once per side;
    bands is tiny (docs × N_BANDS rows; ContextCleaner frees the blocks).

    Memoized per (session, sf_dir) like catalog.table: x1_minhash_lsh,
    x1_dedup_components and x1_incremental_neardup each consume it within one
    session — tokenize+checkpoint is paid once, not per caller."""
    memo = catalog.session_memo(spark, "_rubix_band_memo")
    key = sf_dir.rstrip("/")
    if key in memo:
        return memo[key]
    memo[key] = _band_table_build(spark, sf_dir)
    return memo[key]


def bands_of(docs: DataFrame) -> DataFrame:
    """(doc_id, band, band_key) MinHash bands of ANY (doc_id, text) frame — the
    shared kernel behind the batch band table, the persisted corpus index and the
    streaming micro-batch path (no checkpoint here; callers decide materialization)."""
    toks = docs.select("doc_id", _tok.tokens("text").alias("toks"))
    sh = (
        toks.select("doc_id", F.explode(_tok.shingles(F.col("toks"), SHINGLE_K)).alias("sh"))
        .distinct()
    )
    dh = sh.select("doc_id", _tok.hash32(F.col("sh")).alias("h")).distinct()
    sig = dh.groupBy("doc_id").agg(
        *[F.min((F.lit(_A[i]) * F.col("h") + F.lit(_B[i])) % F.lit(_P)).alias(f"s{i}") for i in range(N_HASHES)]
    )
    rpb = N_HASHES // N_BANDS
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.concat_ws(",", *[F.col(f"s{b * rpb + j}") for j in range(rpb)]).alias("k"),
            )
            for b in range(N_BANDS)
        ]
    )
    return (
        sig.select("doc_id", F.explode(band_structs).alias("u"))
        .select("doc_id", F.col("u.band").alias("band"), F.col("u.k").alias("band_key"))
    )


def _band_table_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = catalog.table(spark, sf_dir, "documents")
    return bands_of(docs).localCheckpoint(eager=True)


@register(
    "x1_minhash_lsh",
    f"""
    WITH ds AS ({_DUCK_DOC_SHINGLES}),
    dh AS (SELECT DISTINCT doc_id, {_tok.duck_hash32('sh')} AS h FROM ds),
    sig AS (
        SELECT doc_id,
               {_duck_sig_cols()}
        FROM dh GROUP BY doc_id
    ),
    bands AS (
        SELECT doc_id, u['band'] AS band, u['k'] AS band_key
        FROM (SELECT doc_id, unnest({_duck_band_structs()}) AS u FROM sig)
    )
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bands a JOIN bands b ON a.band = b.band AND a.band_key = b.band_key
                             AND a.doc_id < b.doc_id
    """,
    doc=(
        "MinHash-LSH near-dup candidates: one md5 per shingle, 16 universal-hash minhash "
        "functions ((a*h+b) mod P — integer-only, codegen'd), 4 bands of 4; candidates via "
        "band-key equi-join (shuffle on band_key, never O(n^2))."
    ),
)
def minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    bands = _band_table(spark, sf_dir)
    a, b = bands.alias("a"), bands.alias("b")
    return (
        a.join(b, (F.col("a.band") == F.col("b.band")) & (F.col("a.band_key") == F.col("b.band_key")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------
_DUCK_TOKENS_TBL = f"""
    SELECT doc_id, unnest({_tok.duck_tokens('text')}) AS tok FROM documents
"""

# 32 bit-vote aggregates in ONE groupBy (no 32× row explode): vote_j = Σ ±1 per token,
# then the signature is assembled from the 32 vote columns as a pure expression.
_DUCK_VOTES = ",\n               ".join(
    f"SUM(CASE WHEN (h >> {j}) & 1 = 1 THEN 1 ELSE -1 END) AS v{j}" for j in range(32)
)
_DUCK_SIMHASH = " + ".join(f"(CASE WHEN v{j} > 0 THEN 1::BIGINT << {j} ELSE 0 END)" for j in range(32))


@register(
    "x1_simhash",
    f"""
    WITH toks AS ({_DUCK_TOKENS_TBL}),
    th AS (SELECT doc_id, {_tok.duck_hash32('tok')} AS h FROM toks),
    votes AS (
        SELECT doc_id,
               {_DUCK_VOTES}
        FROM th GROUP BY doc_id
    ),
    sig AS (SELECT doc_id, {_DUCK_SIMHASH} AS simhash FROM votes),
    bands AS (
        SELECT doc_id, simhash, g.i AS band, (simhash >> (8 * g.i)) & 255 AS band_val
        FROM sig, (SELECT unnest(generate_series(0, 3)) AS i) g
    )
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
           bit_count(CAST(xor(a.simhash, b.simhash) AS BIGINT)) AS hamdist
    FROM bands a JOIN bands b ON a.band = b.band AND a.band_val = b.band_val
                             AND a.doc_id < b.doc_id
    WHERE bit_count(CAST(xor(a.simhash, b.simhash) AS BIGINT)) <= 3
    """,
    doc=(
        "SimHash near-dup: 32-bit signature from ±1 token-bit votes (32 aggregate columns "
        "in one groupBy — no per-bit row explode); candidate pairs via 8-bit band join "
        "(pigeonhole: hamming ≤3 ⇒ ≥1 of 4 bands equal), verified with bit_count(xor) ≤ 3."
    ),
)
def simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = catalog.table(spark, sf_dir, "documents")
    th = docs.select("doc_id", F.explode(_tok.tokens("text")).alias("tok")).select(
        "doc_id", _tok.hash32(F.col("tok")).alias("h")
    )
    votes = th.groupBy("doc_id").agg(
        *[
            F.sum(F.when(F.expr(f"shiftright(h, {j}) & 1") == 1, 1).otherwise(-1)).alias(f"v{j}")
            for j in range(32)
        ]
    )
    simhash_expr = sum(
        (F.when(F.col(f"v{j}") > 0, F.lit(1 << j).cast("long")).otherwise(F.lit(0)) for j in range(32)),
        start=F.lit(0).cast("long"),
    )
    sig = votes.select("doc_id", simhash_expr.alias("simhash"))
    band_ids = spark.range(4).select(F.col("id").cast("int").alias("band"))
    # checkpoint before the self-join: both sides would otherwise re-run the full
    # tokenize→vote→signature pipeline (docs × 4 rows — tiny)
    bands = (
        sig.crossJoin(F.broadcast(band_ids))
        .select("doc_id", "simhash", "band", F.expr("shiftright(simhash, 8 * band) & 255").alias("band_val"))
        .localCheckpoint(eager=True)
    )
    a, b = bands.alias("a"), bands.alias("b")
    ham = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    return (
        a.join(b, (F.col("a.band") == F.col("b.band")) & (F.col("a.band_val") == F.col("b.band_val")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .where(ham <= 3)
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"), ham.alias("hamdist"))
        .distinct()
    )


# ---------------------------------------------------------------------------
# n-gram Jaccard
# ---------------------------------------------------------------------------
@register(
    "x1_ngram_jaccard",
    f"""
    WITH ds AS ({_DUCK_DOC_SHINGLES}),
    dh AS (SELECT DISTINCT doc_id, {_tok.duck_hash32('sh')} AS h FROM ds),
    rare AS (SELECT h FROM dh GROUP BY h HAVING COUNT(*) <= {MAX_SHINGLE_DF}),
    dsr AS (SELECT dh.* FROM dh JOIN rare USING (h)),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM dh GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
        FROM dsr a JOIN dsr b ON a.h = b.h AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    )
    SELECT doc_a, doc_b,
           FLOOR(CAST(i AS DOUBLE) / (sa.n + sb.n - i) * 10000 + 0.5) / 10000.0 AS jaccard
    FROM inter JOIN sizes sa ON sa.doc_id = doc_a JOIN sizes sb ON sb.doc_id = doc_b
    WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.5
    """,
    doc=(
        "3-gram Jaccard near-dup via inverted-index self-join on *hashed* shingles (8-byte "
        "join keys instead of strings); shingles with document frequency > 50 are dropped "
        "from candidate generation (skew guard — a boilerplate phrase shared by 1e6 docs "
        "would otherwise explode the join)."
    ),
)
def ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    # dh feeds three consumers (df-cap filter, per-doc sizes, the self-join) — eagerly
    # localCheckpoint the hashed-shingle table (16 B/row) so the tokenize→shingle→md5
    # pipeline runs once. Unlike persist() (which pins a CacheManager entry until an
    # explicit unpersist nobody can issue — the builder returns a lazy DF), checkpoint
    # blocks are freed by the ContextCleaner when the result goes out of scope.
    # At 100 TB this is the materialized inverted index you'd write to parquet anyway.
    dh = (
        _doc_shingles(spark, sf_dir)
        .select("doc_id", _tok.hash32(F.col("sh")).alias("h"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    rare = dh.groupBy("h").agg(F.count("*").alias("df")).where(F.col("df") <= MAX_SHINGLE_DF).select("h")
    dsr = dh.join(rare, "h")
    sizes = dh.groupBy("doc_id").agg(F.count("*").alias("n"))
    a, b = dsr.alias("a"), dsr.alias("b")
    inter = (
        a.join(b, (F.col("a.h") == F.col("b.h")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("i"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    jac = F.col("i").cast("double") / (F.col("na") + F.col("nb") - F.col("i"))
    return (
        inter.join(sa, "doc_a").join(sb, "doc_b")
        .where(jac >= 0.5)
        .select("doc_a", "doc_b", round_det(jac, 4).alias("jaccard"))
    )


# ---------------------------------------------------------------------------
# embedding cosine near-dup (blocked)
# ---------------------------------------------------------------------------
# ONE implementation of the cross-engine dot-product contract (r13 review:
# dedup carried byte-identical private copies of similarity.dot/DUCK_DOT — two
# places to apply the next NULLIF-class guard). similarity does not import
# dedup, so this import is cycle-free.
#
# Perf note (round 4): unrolling the fold into a flat 64-term element_at chain
# was measured MUCH slower at sf1 (>300 s vs 42 s) — the generated method blows
# past the JIT size limits and runs as interpreted bytecode. The HOF fold is the
# best SQL-expressible form; the BLAS twin (x1_embedding_neardup_np) is the
# scale path.
from rubix_spark.ops.similarity import DUCK_DOT as _DUCK_DOT  # noqa: E402
from rubix_spark.ops.similarity import dot as _dot  # noqa: E402


@register(
    "x1_embedding_neardup",
    f"""
    WITH n AS (
        SELECT vec_id, label, embedding,
               sqrt({_DUCK_DOT.format(a='embedding', b='embedding')}) AS nrm
        FROM embeddings
    ),
    e AS (
        SELECT vec_id, label,
               list_transform(embedding, x -> CAST(x AS DOUBLE) / nrm) AS ne
        FROM n
    ),
    scored AS (
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
               list_aggregate(list_transform(list_zip(a.ne, b.ne), x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)), 'sum') AS s
        FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
    )
    SELECT vec_a, vec_b, FLOOR(s * 10000 + 0.5) / 10000.0 AS sim
    FROM scored WHERE s >= 0.4
    """,
    doc=(
        "Embedding-cosine near-dup, blocked by label (stand-in for an ANN/IVF bucket id at "
        "scale): vectors L2-normalized ONCE in the build pass, so the pair verify is a "
        "single dot per pair. Threshold 0.4 is demo-calibrated to the synthetic fixtures "
        "(random embeddings top out at ~0.47 cosine; production near-dup would use ~0.95). "
        "single dot product evaluated once per pair (projection before filter). The join "
        "shuffles on the block key; pairs are O(sum of block^2), never global O(n^2)."
    ),
)
def embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = catalog.table(spark, sf_dir, "embeddings")
    # norm materialized in its own projection — inlined into the transform lambda it
    # would be re-folded per element
    # NULLIF per row: zero-norm vectors crash ANSI Spark where the oracle's
    # x/0 -> NULL components make every pair sim NULL (never >= 0.4) —
    # invariant 31e, r13
    n = emb.select(
        "vec_id", "label", "embedding",
        F.nullif(F.sqrt(_dot(F.col("embedding"), F.col("embedding"))), F.lit(0.0)).alias("nrm"),
    )
    # checkpoint the normalized vectors: the self-join otherwise re-runs the scan +
    # norm + transform pipeline once per side, and projection collapse would re-inline
    # the interpreted transform into downstream element accesses (invariant: measured
    # 4.4 s -> 1.9 s at sf0.1)
    # parallelism note: see x1_semantic_dedup — pre-repartitioning by the block key
    # helps only the degenerate single-file small-SF case and is 1.7× slower at sf1,
    # so the block-key exchange stays with the join
    e = n.select(
        "vec_id", "label",
        F.transform("embedding", lambda x: x.cast("double") / F.col("nrm")).alias("ne"),
    ).localCheckpoint(eager=True)
    a, b = e.alias("a"), e.alias("b")
    scored = (
        a.join(b, (F.col("a.label") == F.col("b.label")) & (F.col("a.vec_id") < F.col("b.vec_id")))
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            _dot(F.col("a.ne"), F.col("b.ne")).alias("s"),
            # nondeterministic sentinel: blocks PushPredicateThroughNonJoin from pushing
            # the s >= 0.4 filter below this projection, which would re-evaluate the
            # interpreted 64-element fold twice per pair (measured 21% slower). The
            # column is dropped immediately and never affects results.
            F.rand(42).alias("_nd"),
        )
    )
    return scored.where(F.col("s") >= 0.4).select("vec_a", "vec_b", round_det(F.col("s"), 4).alias("sim"))


def _neardup_block(tbl):
    """Per-block Arrow kernel: normalize rows, one matmul, emit pairs over threshold.

    Degradation == the exact HOF variant (r13 review, via ``_sem_split``): NULL/
    off-width rows score NULL -> no pair; NaN-component pairs score NaN, which
    BOTH engines accept at ``>= 0.4`` (NaN compares greatest) -> pair emitted
    with a NaN sim (numpy's floor chain keeps NaN, matching round_det's NaN
    passthrough)."""
    import numpy as np
    import pyarrow as pa

    m, ids_ok, _, _ = _sem_split(tbl)
    if m is None or len(ids_ok) < 2:
        return pa.table({
            "vec_a": pa.array([], pa.int64()),
            "vec_b": pa.array([], pa.int64()),
            "sim": pa.array([], pa.float64()),
        })
    sims = m @ m.T
    ii, jj = np.triu_indices(len(ids_ok), k=1)
    s = sims[ii, jj]
    mask = (s >= 0.4) | np.isnan(s)
    # rows arrive in arbitrary partition order — canonicalize each pair as (lo, hi)
    a, b = ids_ok[ii[mask]], ids_ok[jj[mask]]
    lo, hi = np.minimum(a, b), np.maximum(a, b)
    return pa.table(
        {
            "vec_a": pa.array(lo, pa.int64()),
            "vec_b": pa.array(hi, pa.int64()),
            "sim": pa.array(np.floor(s[mask] * 10000 + 0.5) / 10000.0, pa.float64()),
        }
    )


@register(
    "x1_embedding_neardup_np",
    None,  # rows-only: BLAS matmul sums in SIMD order — last-ulp diff vs the sequential oracle
    doc=(
        "Vectorized scale path for embedding near-dup: per-block numpy matmul inside "
        "applyInArrow (zero-copy tile gather off the Arrow values buffer, BLAS O(n²d) in C) — ~10-100× the "
        "interpreted higher-order-function fold. Rows-only gate because BLAS summation "
        "order differs from the sequential oracle in the last ulp; the HOF variant "
        "(x1_embedding_neardup) carries the exact-match proof."
    ),
)
def embedding_neardup_np(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = catalog.table(spark, sf_dir, "embeddings")
    return (
        emb.select("vec_id", "label", "embedding")
        .groupBy("label")
        .applyInArrow(_neardup_block, schema="vec_a bigint, vec_b bigint, sim double")
    )


# ---------------------------------------------------------------------------
# near-dup clustering: connected components over the LSH candidate graph
# ---------------------------------------------------------------------------
def connected_components(edges: DataFrame, src: str = "src", dst: str = "dst", max_iter: int = 50) -> DataFrame:
    """Min-label-propagation connected components over an undirected edge list.

    Returns (doc_id, component) where component = min node id in the component.
    Iterative DataFrame algorithm (the driver only checks convergence counts — the data
    never leaves the cluster); each round is one join + aggregate, and the number of
    rounds is bounded by the graph diameter. This is the large-graph-safe pattern —
    hash-min CC is how GraphFrames/GraphX implement it too.

    ``max_iter`` is a runaway bound, not a budget: converged graphs exit early, so
    the default is sized for the star-edge topology (ADVICE r11 — stars roughly
    double propagation diameter vs cliques on long bucket-overlap chains). Exiting
    with labels still moving WARNS instead of silently returning unconverged
    components (no oracle runs at the scales where this could trigger).

    Round-12 (r11 verdict #4): propagation is FRONTIER-driven. The sf30 round
    probe showed 15 rounds at a FLAT ~3.2-5.4 s each — rounds 8-13 moved fewer
    than 200 labels yet still joined all ~6M edges against all 1.5M labels,
    because the old loop fed the FULL label frame in every round. Only labels
    that moved last round can change a neighbor this round (round 0 seeds the
    frontier with every node), so the join input is the moved set — and once
    ``changed`` (the exact frontier size, already counted) is small, the frontier
    and its neighbor-min output broadcast, turning a tail round into a cheap
    map-side pass over the checkpointed edge blocks instead of a full shuffle.
    Fixpoint and labels are identical to full propagation: an unchanged
    neighbor's label was already delivered the round after it last moved.
    """
    sym = edges.selectExpr(f"{src} AS a", f"{dst} AS b").unionByName(
        edges.selectExpr(f"{dst} AS a", f"{src} AS b")
    ).localCheckpoint()
    labels = (
        sym.select(F.col("a").alias("doc_id")).distinct().withColumn("label", F.col("doc_id"))
        .localCheckpoint()
    )
    changed = 0
    frontier = labels  # round 0: every node is "just moved"
    frontier_rows = None  # unknown until the first count; None -> no broadcast
    # broadcast only once the frontier is clearly small: neighbor_min is bounded
    # by the frontier's NEIGHBORHOOD (a moved hub re-offers to its whole bucket),
    # so the cap guards the worst case of ~node-count rows (~24 MB) on both sides
    _BCAST_MAX = 500_000
    for _ in range(max_iter):
        # fresh names for the frontier side (invariant 12: both sides of the join
        # ultimately derive from the same edge scan)
        f_side = frontier.select(F.col("doc_id").alias("_fd"), F.col("label").alias("_fl"))
        if frontier_rows is not None and frontier_rows <= _BCAST_MAX:
            f_side = F.broadcast(f_side)
        neighbor_min = (
            sym.join(f_side, sym["b"] == F.col("_fd"))
            .groupBy(F.col("a").alias("doc_id"))
            .agg(F.min("_fl").alias("nmin"))
        )
        if frontier_rows is not None and frontier_rows <= _BCAST_MAX:
            # neighbor_min rows are bounded by the frontier's neighborhood; small
            # frontiers keep the label update map-side too
            neighbor_min = F.broadcast(neighbor_min)
        # localCheckpoint truncates the lineage each round — without it, iteration k
        # re-executes all k-1 previous joins for every action (quadratic blowup).
        # Non-eager: the convergence count below is the action that materializes the
        # checkpoint, and the `moved` flag is computed in the same pass — ONE job per
        # round, where a separate eager checkpoint + old-vs-new join made two.
        updated = (
            labels.join(neighbor_min, "doc_id", "left")
            .select(
                "doc_id",
                F.least(F.col("label"), F.coalesce("nmin", "label")).alias("label"),
                (F.coalesce("nmin", "label") < F.col("label")).alias("moved"),
            )
            .localCheckpoint(eager=False)
        )
        changed = updated.where("moved").count()
        labels = updated.select("doc_id", "label")
        frontier = updated.where("moved").select("doc_id", "label")
        frontier_rows = changed
        if changed == 0:
            break
    else:
        import warnings

        if changed:
            warnings.warn(
                f"connected_components: max_iter={max_iter} exhausted with {changed} "
                "labels still moving — returned components may be unconverged "
                "(diameter exceeds the bound; raise max_iter)",
                RuntimeWarning,
            )
    return labels.select("doc_id", F.col("label").alias("component"))


def _star_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(band, band_key) STAR edges — (bucket min doc_id) -> member — instead of
    the bucket's all-pairs clique (round-11, r10 verdict #6). Connectivity is
    IDENTICAL (a star spans exactly what the clique spans, and candidacy is pure
    band-key collision — no similarity residual), but edge count is O(bucket size),
    not O(size^2): the amplified sf30 fixture's rotation cliques made the pair list
    185.8M rows for 1.5M nodes (~9x sf10's for 3x the data — THE super-linear term
    in the r8 probe), while star edges stay bounded by the band-table row count
    (~n_docs x n_bands) at every scale. x1_minhash_lsh keeps the all-pairs join:
    its CONTRACT is the candidate-pair report; this one's is connectivity."""
    from pyspark.sql.window import Window

    bands = _band_table(spark, sf_dir)
    hub = F.min("doc_id").over(Window.partitionBy("band", "band_key"))
    return (
        bands.withColumn("hub", hub)
        .where(F.col("doc_id") != F.col("hub"))
        .select(F.col("hub").alias("doc_a"), F.col("doc_id").alias("doc_b"))
        .distinct()
    )


def _hub_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components via HUB-GRAPH CONTRACTION (the 'next lever' named when
    the star edges shipped): run label propagation over the bucket HUBS only, then
    attach members in one join.

    From the band table, each (band, band_key) bucket of size > 1 contributes its
    min doc_id as hub; a doc belonging to buckets with hubs {h0 < h1 < ...} adds
    hub edges (h0, hi) — connectivity between hubs is exactly star-graph
    connectivity with the member hop CONTRACTED away, so the propagation walks
    half the diameter over a frame of |hubs| <= |buckets| nodes instead of all
    docs. Same-session A/B at sf10: star CC 13.11 s (9 rounds over 500k labels,
    6 of them tail rounds at the ~0.4 s scheduler floor) -> hub CC 6.98 s,
    identical 499,571 rows; sf1 3.03 -> 2.25; sf0.1 0.96 (pairs) -> 0.66.

    Equivalences that make the attach exact (pinned in tests/test_denorm_layout):
    - the min doc of a component is always a hub (it is min of its own bucket), so
      min-label CC over hubs yields the SAME component ids;
    - a member's component is its min-hub's component (h0 is adjacent to every
      other hub the doc touches);
    - a hub with no hub edges (its buckets share no doc with other buckets) is its
      own component — the attach coalesces to h0.
    Node set matches _star_edges': docs appearing in a bucket of size > 1."""
    return _hub_components_from_bands(_band_table(spark, sf_dir))


def _hub_components_from_bands(bands: DataFrame) -> DataFrame:
    """Core of _hub_components over an arbitrary (doc_id, band, band_key) frame —
    split out so the random-bucket property test can pin hub-vs-pairs label
    equality on adversarial bucket structures, not just the fixtures."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("band", "band_key")
    dh = (
        bands.withColumn("hub", F.min("doc_id").over(w))
        .withColumn("_bsz", F.count(F.lit(1)).over(w))
        .where(F.col("_bsz") > 1)
        .select("doc_id", "hub")
        .distinct()
        .localCheckpoint()  # two consumers below — don't re-run the band window
    )
    doc_min = dh.groupBy("doc_id").agg(F.min("hub").alias("h0"))
    hub_edges = (
        dh.join(doc_min, "doc_id")
        .where(F.col("hub") != F.col("h0"))
        .select(F.col("h0").alias("doc_a"), F.col("hub").alias("doc_b"))
        .distinct()
    )
    hub_labels = connected_components(hub_edges, "doc_a", "doc_b").select(
        F.col("doc_id").alias("_h"), F.col("component").alias("_c")
    )
    return (
        doc_min.join(hub_labels, doc_min["h0"] == F.col("_h"), "left")
        .select("doc_id", F.coalesce("_c", "h0").alias("component"))
    )


@register(
    "x1_dedup_components",
    f"""
    WITH RECURSIVE ds AS ({_DUCK_DOC_SHINGLES}),
    dh AS (SELECT DISTINCT doc_id, {_tok.duck_hash32('sh')} AS h FROM ds),
    sig AS (
        SELECT doc_id,
               {_duck_sig_cols()}
        FROM dh GROUP BY doc_id
    ),
    bands AS (
        SELECT doc_id, u['band'] AS band, u['k'] AS band_key
        FROM (SELECT doc_id, unnest({_duck_band_structs()}) AS u FROM sig)
    ),
    pairs AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b ON a.band = b.band AND a.band_key = b.band_key
                                 AND a.doc_id < b.doc_id
    ),
    edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs UNION SELECT doc_b, doc_a FROM pairs),
    nodes AS (SELECT DISTINCT src AS doc_id FROM edges),
    walk(doc_id, label) AS (
        SELECT doc_id, doc_id FROM nodes
        UNION
        SELECT e.dst, w.label FROM walk w JOIN edges e ON e.src = w.doc_id
    )
    SELECT doc_id, MIN(label) AS component FROM walk GROUP BY doc_id
    """,
    doc=(
        "Near-dup clustering: connected components over the MinHash-LSH candidate graph "
        "(min-label propagation, iterative joins — the step that turns pairwise matches "
        "into dedup groups with one survivor each). Round-11 replaced the bucket "
        "CLIQUES with per-bucket star edges (O(bucket) not O(bucket^2) — the sf30 "
        "pair list was 185.8M rows, 484 -> 49 s); round-12 session 2 CONTRACTS the "
        "member hop away entirely (_hub_components): label propagation runs over "
        "the bucket hubs only and members attach by min-hub in one join — half the "
        "diameter, |hubs| labels instead of |docs| (sf10 protocol row 9.52 -> "
        "3.57 s; equivalences in the _hub_components docstring, pinned vs pairs/"
        "star CC in tests/test_denorm_layout). Below the AT_SCALE "
        "x1_dedup_components threshold (2000 documents rows) the "
        "all-pairs list stays (driver's sf0.01 scale keeps both bodies "
        "oracle-exercised). Oracle restates it as a recursive-CTE transitive "
        "closure over the clique pairs (equivalent closure)."
    ),
)
def dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Size-adaptive (invariant 16, re-measured r12 session 2): hub contraction
    # wins at EVERY timed point — same-session A/B vs the previous branch winner:
    # sf0.1 0.66 vs 0.96 pairs, sf1 2.25 vs 3.03 star, sf10 6.98 vs 13.11 star
    # (protocol row: 9.52 -> 3.57 s) — so the threshold only preserves the
    # all-pairs path on the driver's sf0.01 correctness scale (500 docs), where
    # both bodies stay oracle-exercised (forced-branch test covers hub there).
    if not at_scale("x1_dedup_components", sf_dir):
        edges = minhash_lsh(spark, sf_dir)
        return connected_components(edges, "doc_a", "doc_b")
    return _hub_components(spark, sf_dir)


@register(
    "x1_diversity_keep",
    f"""
    WITH RECURSIVE ds AS ({_DUCK_DOC_SHINGLES}),
    dh AS (SELECT DISTINCT doc_id, {_tok.duck_hash32('sh')} AS h FROM ds),
    sig AS (
        SELECT doc_id,
               {_duck_sig_cols()}
        FROM dh GROUP BY doc_id
    ),
    bands AS (
        SELECT doc_id, u['band'] AS band, u['k'] AS band_key
        FROM (SELECT doc_id, unnest({_duck_band_structs()}) AS u FROM sig)
    ),
    pairs AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b ON a.band = b.band AND a.band_key = b.band_key
                                 AND a.doc_id < b.doc_id
    ),
    edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs UNION SELECT doc_b, doc_a FROM pairs),
    nodes AS (SELECT DISTINCT src AS doc_id FROM edges),
    walk(doc_id, label) AS (
        SELECT doc_id, doc_id FROM nodes
        UNION
        SELECT e.dst, w.label FROM walk w JOIN edges e ON e.src = w.doc_id
    ),
    comp AS (SELECT doc_id, MIN(label) AS component FROM walk GROUP BY doc_id)
    SELECT d.source, COUNT(*) AS kept_docs, CAST(SUM(d.n_chars) AS BIGINT) AS kept_chars
    FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id
    WHERE c.doc_id IS NULL OR c.component = d.doc_id
    GROUP BY d.source
    """,
    doc=(
        "Diversity retention — the curation step the cluster pipeline exists for: "
        "after near-dup clustering (MinHash-LSH pairs -> connected components), keep "
        "exactly ONE representative per cluster (the min-label doc, whose component "
        "label equals its own id) plus every singleton, and report the surviving "
        "corpus per source. This is cluster-level dedup as a retention policy: at "
        "100 TB the components table is the persisted artifact and this query is a "
        "broadcast-joined scan over it (components output is |clustered docs| rows, "
        "orders of magnitude smaller than the corpus)."
    ),
)
def diversity_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = catalog.table(spark, sf_dir, "documents")
    comp = dedup_components(spark, sf_dir).withColumnRenamed("doc_id", "c_doc")
    kept = (
        docs.join(F.broadcast(comp), docs["doc_id"] == F.col("c_doc"), "left")
        .where(F.col("c_doc").isNull() | (F.col("component") == F.col("doc_id")))
    )
    return kept.groupBy("source").agg(
        F.count("*").alias("kept_docs"),
        F.sum("n_chars").cast("bigint").alias("kept_chars"),
    )


# ---------------------------------------------------------------------------
# semantic dedup (SemDeDup-style: cluster embeddings, drop within-cluster near-dups)
# ---------------------------------------------------------------------------
# Reuses the similarity module's IVF codebook + assignment (same centroid set, same
# argmax tie-break, already oracle-proven by x2_ann_ivf) — cluster-then-prune is
# exactly how SemDeDup (Abbas et al. 2023) bounds pairwise work on web-scale corpora.
from rubix_spark.ops import similarity as _sim  # noqa: E402  (no import cycle: similarity does not import dedup)

SEM_TAU = 0.4  # demo-calibrated like x1_embedding_neardup (random vectors top out ~0.47)
SEM_TILE_ROWS = 4096  # semantic_dedup_np hash-block size; tests lower it to force nb > 1


@register(
    "x1_semantic_dedup",
    f"""
    WITH cent AS (SELECT vec_id AS cid, embedding AS ce FROM embeddings
                  WHERE vec_id < {_sim.N_CENTROIDS}),
    assign AS (
        SELECT vec_id, embedding, cid FROM (
            SELECT v.vec_id, v.embedding, c.cid,
                   ROW_NUMBER() OVER (PARTITION BY v.vec_id
                                      ORDER BY {_sim._duck_cos('v.embedding', 'c.ce')} DESC, c.cid)
                       AS rn
            FROM embeddings v, cent c
        ) WHERE rn = 1
    ),
    nr AS (SELECT vec_id, cid, embedding,
                  sqrt({_DUCK_DOT.format(a='embedding', b='embedding')}) AS nrm
           FROM assign),
    e AS (SELECT vec_id, cid, list_transform(embedding, x -> CAST(x AS DOUBLE) / nrm) AS ne
          FROM nr),
    dropped AS (
        SELECT DISTINCT b.vec_id
        FROM e a JOIN e b ON a.cid = b.cid AND a.vec_id < b.vec_id
        WHERE {_DUCK_DOT.format(a='a.ne', b='b.ne')} >= {SEM_TAU}
    )
    SELECT e.vec_id, e.cid, CAST(d.vec_id IS NULL AS INT) AS kept
    FROM e LEFT JOIN dropped d ON e.vec_id = d.vec_id
    """,
    doc=(
        "Semantic dedup (SemDeDup shape): every embedding is assigned to its nearest "
        "codebook centroid (the x2_ann_ivf build pass), then near-duplicates are pruned "
        "WITHIN each cluster only — keep the lowest vec_id of any pair with cosine >= "
        f"{SEM_TAU}. Emits (vec_id, cluster, kept). Pairwise work is O(sum cluster^2), "
        "never global O(n^2); at 100 TB the assignment is a zero-shuffle broadcast-"
        "codebook pass and the prune shuffles once on cid."
    ),
)
def semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = catalog.table(spark, sf_dir, "embeddings")
    cents, _ = _sim._ivf_codebook(emb, (), memo_key=sf_dir)
    assign = _sim._ivf_assign(emb, cents)
    # norm in its own projection, then checkpoint: ``e`` is consumed three times (both
    # join sides + the final kept-flag projection) and projection collapse would
    # otherwise re-inline the interpreted normalize per consumer (invariant 3)
    # NULLIF on the norm (per ROW, outside the per-element lambda): a zero vector
    # would crash ANSI Spark (DIVIDE_BY_ZERO) where the DuckDB oracle yields NULL
    # components → NULL pair sims → never >= tau → the zero vector stays kept
    # (invariant 31e; adversarial-embeddings corpus, round 13).
    n = assign.select(
        "vec_id", "cid", "embedding",
        F.nullif(F.sqrt(_dot(F.col("embedding"), F.col("embedding"))), F.lit(0.0)).alias("nrm"),
    )
    # NOTE on parallelism: pre-repartitioning this checkpoint by cid was measured 1.6×
    # faster at sf0.1 (spreads the single-file scan's 1-2 partitions) but 1.7× SLOWER
    # at sf1 (62 vs 37 s — the join-time exchange it removes is where AQE balances the
    # block-key distribution). The exchange stays with the join; the fold variant is
    # the oracle proof and the BLAS twin is the scale path regardless.
    e = n.select(
        "vec_id", "cid",
        F.transform("embedding", lambda x: x.cast("double") / F.col("nrm")).alias("ne"),
    ).localCheckpoint(eager=True)
    a, b = e.alias("a"), e.alias("b")
    scored = (
        a.join(b, (F.col("a.cid") == F.col("b.cid")) & (F.col("a.vec_id") < F.col("b.vec_id")))
        .select(
            F.col("b.vec_id").alias("vec_id"),
            _dot(F.col("a.ne"), F.col("b.ne")).alias("s"),
            # rand sentinel pins the threshold filter above this projection so the
            # 64-element fold evaluates once per pair (invariant 10)
            F.rand(42).alias("_nd"),
        )
    )
    dropped = scored.where(F.col("s") >= SEM_TAU).select("vec_id").distinct()
    return e.join(dropped.withColumn("_d", F.lit(1)), "vec_id", "left").select(
        "vec_id", "cid", F.col("_d").isNull().cast("int").alias("kept")
    )


def _sem_split(tbl):
    """(normalized matrix | None, ok ids, all ids, ok mask) for one Arrow tile.

    Round-14: Arrow form (guide §4.2) — the pandas predecessor paid a per-cell
    ``.tolist()`` + np.array(list-of-lists) per tile; this gathers the tile
    matrix straight off the ListArray's contiguous values buffer with one
    fancy-index (sf1 −12%, sf10 −21% min-of-canary-gated-runs; kept-set
    equality pinned at both SFs).

    Degradation contract == the exact SQL twin (r13 review; the ADVICE-r12 ANN
    degradation applied here too): a NULL or off-width embedding scores NULL
    against everything (zip_with pads NULL -> fold NULL), so it is never dropped
    and can never drop others — such rows leave the matrix entirely and come
    back kept. NaN COMPONENTS (correct width) stay IN the matrix — and NULL
    elements arrive as NaN exactly as Arrow→pandas delivered them (to_numpy
    with zero_copy_only=False fills nulls with NaN): both engines evaluate the
    pair's NaN score >= tau as TRUE (verified; NaN compares greatest in Spark
    and DuckDB), so the numpy mask ORs in isnan. Zero norms normalize against
    1.0 (sims 0, kept) exactly like the NULLIF guard."""
    import numpy as np

    emb = tbl.column("embedding").combine_chunks()
    ids = tbl.column("vec_id").combine_chunks().to_numpy(zero_copy_only=False)
    n = len(emb)
    # offsets are absolute into the (possibly shared, unsliced) child values
    # array — the fancy-index below must use them as-is, never rebased
    offs = emb.offsets.to_numpy(zero_copy_only=False).astype(np.int64)
    lens = offs[1:] - offs[:-1]
    if emb.null_count:
        valid = emb.is_valid().to_numpy(zero_copy_only=False)
        lens = np.where(valid, lens, -1)
    good = lens[lens >= 0]
    if not len(good):
        return None, ids[:0], ids, np.zeros(n, dtype=bool)
    width = int(np.bincount(good).argmax())
    ok = lens == width
    flat = emb.values.to_numpy(zero_copy_only=False).astype(np.float64, copy=False)
    m = flat[offs[:-1][ok][:, None] + np.arange(width)[None, :]] if width else (
        np.zeros((int(ok.sum()), 0))
    )
    nrm = np.linalg.norm(m, axis=1, keepdims=True)
    return m / np.where(nrm == 0, 1.0, nrm), ids[ok], ids, ok


def _sem_block(tbl):
    """Per-cluster Arrow kernel (the nb == 1 branch): normalize, one matmul, drop
    the higher vec_id of any pair over SEM_TAU; emit every row with its kept flag.
    Used when every cluster fits one tile — no replication, no attach join."""
    import numpy as np
    import pyarrow as pa

    m, ids_ok, ids, _ = _sem_split(tbl)
    kept = np.ones(len(ids), dtype=np.int32)
    if m is not None and len(ids_ok) >= 2:
        sims = m @ m.T
        ii, jj = np.triu_indices(len(ids_ok), k=1)
        s = sims[ii, jj]
        mask = (s >= SEM_TAU) | np.isnan(s)
        dropped = np.unique(np.maximum(ids_ok[ii[mask]], ids_ok[jj[mask]]))
        kept[np.isin(ids, dropped)] = 0
    cid = tbl.column("cid").combine_chunks().to_numpy(zero_copy_only=False)
    return pa.table(
        {
            "vec_id": pa.array(ids, pa.int64()),
            "cid": pa.array(cid, pa.int64()),
            "kept": pa.array(kept, pa.int32()),
        }
    )


def _sem_tile(tbl):
    """Per-TILE Arrow kernel: rows arrive tagged side 0 (row block ti) / side 1
    (column block tj); normalize each side, one rectangular matmul, emit the
    DROPPED ids (max vec_id of any pair >= SEM_TAU). Diagonal tiles (ti == tj)
    use the side-0 rows with a triangular mask."""
    import numpy as np
    import pyarrow as pa

    empty = pa.table({"vec_id": pa.array([], pa.int64())})
    diag = tbl.column("ti")[0].as_py() == tbl.column("tj")[0].as_py()
    side = tbl.column("side").combine_chunks().to_numpy(zero_copy_only=False)
    if diag:
        a = tbl.filter(pa.array(side == 0))
        if not len(a):
            return empty
        m, ids, _, _ = _sem_split(a)
        if m is None or len(ids) < 2:
            return empty
        ii, jj = np.triu_indices(len(ids), k=1)
        s = (m @ m.T)[ii, jj]
        mask = (s >= SEM_TAU) | np.isnan(s)
        dropped = np.maximum(ids[ii[mask]], ids[jj[mask]])
    else:
        a, b = tbl.filter(pa.array(side == 0)), tbl.filter(pa.array(side == 1))
        if not (len(a) and len(b)):
            return empty
        ma, ida, _, _ = _sem_split(a)
        mb, idb, _, _ = _sem_split(b)
        if ma is None or mb is None or not (len(ida) and len(idb)):
            return empty
        s = ma @ mb.T
        ii, jj = np.nonzero((s >= SEM_TAU) | np.isnan(s))
        dropped = np.maximum(ida[ii], idb[jj])
    return pa.table({"vec_id": pa.array(np.unique(dropped), pa.int64())})


@register(
    "x1_semantic_dedup_np",
    None,  # rows-only: BLAS matmul sums in SIMD order — last-ulp diff vs the sequential oracle
    doc=(
        "Vectorized scale path for semantic dedup — TILED (r12 session 2): the "
        "r4 per-cluster applyInPandas ran ONE single-threaded task per centroid "
        "with the 16-centroid fixture codebook, materializing a (n/16)^2 sims "
        "matrix per task — O(n^2/k) with k FIXED, measured 0.86 s at sf1 but "
        "117.9 s at sf10 (137x for 10x data; 1.25 GB sims allocations, half the "
        "cores idle). Now each cluster's pair work is decomposed into "
        "(block x block) TILES via hash blocks of ~4096 rows (row-side explodes "
        "to tiles (bi, j>=bi), column-side to (i<=bi, bi)): every tile is one "
        "bounded rectangular matmul, all 32 cores busy, no quadratic allocation; "
        "the kept flag attaches back with one small anti-join. Same kept set "
        "(repo test vs the exact HOF form). Replication factor = nb+1 ~ "
        "cluster/4096 — linear shuffle growth in corpus size; the true 100 TB "
        "dial remains k ~ n/const (SemDeDup scales cluster COUNT, not cluster "
        "size; the fixture codebook pins k=16 because the oracle's kept set "
        "depends on the clustering)."
    ),
)
def semantic_dedup_np(spark: SparkSession, sf_dir: str) -> DataFrame:
    import math

    emb = catalog.table(spark, sf_dir, "embeddings")
    cents, _ = _sim._ivf_codebook(emb, (), memo_key=sf_dir)
    assign = _sim._ivf_assign(emb, cents)
    n = table_rows(sf_dir, "embeddings")
    nb = max(1, math.ceil(n / _sim.N_CENTROIDS / SEM_TILE_ROWS))
    if nb == 1:
        # every cluster fits one tile: the direct per-cluster kernel emits kept
        # flags in place — no replication explode, no attach join (sf1: 0.86 vs
        # 1.37 s for the general path; the tiles only pay off once clusters
        # outgrow a single task's matmul)
        return assign.groupBy("cid").applyInArrow(
            _sem_block, schema="vec_id bigint, cid bigint, kept int"
        )
    rows = assign.withColumn(
        "cid", F.col("cid").cast("long")
    ).withColumn("bi", F.pmod(F.xxhash64("vec_id"), F.lit(nb)).cast("int"))
    left = rows.select(
        "vec_id", "cid", "embedding", F.lit(0).alias("side"),
        F.col("bi").alias("ti"), F.explode(F.sequence(F.col("bi"), F.lit(nb - 1))).alias("tj"),
    )
    # sequence(0, bi-1) with bi=0 would yield a DESCENDING [0,-1] — guard to empty
    right_tiles = F.when(
        F.col("bi") > 0, F.sequence(F.lit(0), F.col("bi") - 1)
    ).otherwise(F.array().cast("array<int>"))
    right = rows.select(
        "vec_id", "cid", "embedding", F.lit(1).alias("side"),
        F.explode(right_tiles).alias("ti"), F.col("bi").alias("tj"),
    )
    dropped = (
        left.unionByName(right)
        .groupBy("cid", "ti", "tj")
        .applyInArrow(_sem_tile, schema="vec_id bigint")
        .distinct()
    )
    return assign.join(dropped.withColumn("_d", F.lit(1)), "vec_id", "left").select(
        "vec_id", "cid", F.col("_d").isNull().cast("int").alias("kept")
    )


# ---------------------------------------------------------------------------
# incremental near-dup: dedup a NEW batch against the frozen corpus index
# ---------------------------------------------------------------------------
INCR_SPLIT = 400  # doc_id < INCR_SPLIT = "corpus", >= = "new batch" (fixture split)
# s7's files per micro-batch; None lets availableNow drain everything in one batch.
# Tests cap it (adversarial streaming, r13) so a directory fixture actually runs
# MULTI-batch state — one batch hides any cross-batch aggregation error by construction.
S7_MAX_FILES_PER_TRIGGER: int | None = None


@register(
    "x1_incremental_neardup",
    f"""
    WITH ds AS ({_DUCK_DOC_SHINGLES}),
    dh AS (SELECT DISTINCT doc_id, {_tok.duck_hash32('sh')} AS h FROM ds),
    sig AS (
        SELECT doc_id,
               {_duck_sig_cols()}
        FROM dh GROUP BY doc_id
    ),
    bands AS (
        SELECT doc_id, u['band'] AS band, u['k'] AS band_key
        FROM (SELECT doc_id, unnest({_duck_band_structs()}) AS u FROM sig)
    )
    SELECT n.doc_id AS new_doc, MIN(c.doc_id) AS dup_of
    FROM bands n JOIN bands c ON n.band = c.band AND n.band_key = c.band_key
    WHERE n.doc_id >= {INCR_SPLIT} AND c.doc_id < {INCR_SPLIT}
    GROUP BY n.doc_id
    """,
    doc=(
        "Incremental near-dup: MinHash band keys of an arriving batch joined against "
        "the FROZEN corpus band index — how a daily crawl dedups against petabytes "
        "already ingested without re-pairing the corpus with itself. At 100 TB the "
        "corpus bands are a persisted table bucketed by band_key, so the daily join "
        "shuffles only the batch; here both sides come from one checkpointed band "
        "table split on doc_id. Emits each duplicate batch doc with its earliest "
        "corpus match."
    ),
)
def incremental_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    bands = _band_table(spark, sf_dir)
    new = bands.where(F.col("doc_id") >= INCR_SPLIT)
    corpus = bands.where(F.col("doc_id") < INCR_SPLIT).select(
        F.col("doc_id").alias("c_doc"), F.col("band").alias("c_band"),
        F.col("band_key").alias("c_key"),
    )
    return (
        new.join(corpus, (F.col("band") == F.col("c_band")) & (F.col("band_key") == F.col("c_key")))
        .groupBy(F.col("doc_id").alias("new_doc"))
        .agg(F.min("c_doc").alias("dup_of"))
    )


def _corpus_band_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The WRITTEN corpus band index behind x1_incremental_neardup_persisted:
    (c_doc, bk) rows for every corpus doc (doc_id < INCR_SPLIT), persisted ONCE as a
    table bucketed by ``bk`` (``sources.bucketing.persisted_bucketed``; fingerprint
    of documents.parquet guards staleness). ``bk = band || '|' || band_key`` folds the
    two-column LSH key into one so the bucket key IS the join key — the daily batch
    join plans with zero Exchange on the corpus side."""
    from rubix_spark.sources.bucketing import persisted_bucketed

    def build():
        bands = _band_table(spark, sf_dir)
        return bands.where(F.col("doc_id") < INCR_SPLIT).select(
            F.col("doc_id").alias("c_doc"),
            F.concat_ws("|", F.col("band"), F.col("band_key")).alias("bk"),
        )

    return persisted_bucketed(
        spark,
        label="corpus_bands",
        source_path=f"{sf_dir.rstrip('/')}/documents.parquet",
        build=build,
        bucket_col="bk",
    )


@register(
    "x1_incremental_neardup_persisted",
    REGISTRY["x1_incremental_neardup"].oracle,
    doc=(
        "x1_incremental_neardup against a PERSISTED corpus band index — the form the "
        "docstring above promises and a daily crawl actually runs: the corpus bands "
        "are a written table bucketed by band key (ingest-time layout, amortized over "
        "every batch), so the daily join shuffles ONLY the arriving batch; the corpus "
        "side reads co-located buckets with no Exchange (pinned by "
        "tests/test_shuffle_ops.py). Same oracle as x1_incremental_neardup."
    ),
)
def incremental_neardup_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = _corpus_band_index(spark, sf_dir)
    batch = (
        _band_table(spark, sf_dir)
        .where(F.col("doc_id") >= INCR_SPLIT)
        .select("doc_id", F.concat_ws("|", F.col("band"), F.col("band_key")).alias("bk"))
    )
    return (
        batch.join(corpus, "bk")
        .groupBy(F.col("doc_id").alias("new_doc"))
        .agg(F.min("c_doc").alias("dup_of"))
    )


@register(
    "s7_stream_incremental_dedup",
    REGISTRY["x1_incremental_neardup"].oracle,
    doc=(
        "The crawl pipeline END TO END as a STREAM: arriving documents come in as a "
        "file-source readStream, each micro-batch computes its MinHash bands "
        "(bands_of — the same kernel as the batch path) and joins the PERSISTED "
        "bucketed corpus band index inside foreachBatch, appending matches to a "
        "durable parquet sink with a checkpoint; the result is read back from the "
        "sink. Per-batch aggregation is exact because a document's bands live wholly "
        "inside its batch (file-source batches never split a file). Deployment swaps "
        "trigger(availableNow) for processingTime and the file source for the crawl "
        "bus; join shape, sink and checkpoint story are identical. Same oracle as "
        "x1_incremental_neardup."
    ),
)
def stream_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil
    import tempfile
    import uuid

    corpus = _corpus_band_index(spark, sf_dir)
    base = os.path.join(tempfile.gettempdir(), "rubix_spark_stream_dedup", uuid.uuid4().hex[:12])
    out_dir, ckpt_dir = os.path.join(base, "out"), os.path.join(base, "ckpt")
    shutil.rmtree(base, ignore_errors=True)

    docs_schema = catalog.table(spark, sf_dir, "documents").schema
    reader = spark.readStream.schema(docs_schema).format("parquet")
    if S7_MAX_FILES_PER_TRIGGER:
        reader = reader.option("maxFilesPerTrigger", S7_MAX_FILES_PER_TRIGGER)
    path = f"{sf_dir.rstrip('/')}/documents.parquet"
    if os.path.isdir(path):  # generated fixtures: a directory of part-files
        raw = reader.load(path)
    else:  # driver fixtures: single file — the file source needs a dir + glob filter
        raw = reader.option("pathGlobFilter", "documents.parquet").load(sf_dir.rstrip("/"))
    src = raw.where(F.col("doc_id") >= INCR_SPLIT)

    def handle(bdf: DataFrame, batch_id: int) -> None:
        matches = (
            bands_of(bdf.select("doc_id", "text"))
            .select("doc_id", F.concat_ws("|", F.col("band"), F.col("band_key")).alias("bk"))
            .join(corpus, "bk")
            .groupBy(F.col("doc_id").alias("new_doc"))
            .agg(F.min("c_doc").alias("dup_of"))
        )
        # Idempotent replay (ADVICE r5): foreachBatch is at-least-once — a crash after
        # the write but before the checkpoint commit replays the batch on restart, and
        # a bare append would duplicate its match rows. Writing each batch to its own
        # batch_id-derived directory with OVERWRITE makes the replay a no-op rewrite
        # (the standard exactly-once foreachBatch recipe for file sinks).
        matches.write.mode("overwrite").parquet(os.path.join(out_dir, f"batch-{batch_id}"))

    q = (
        src.writeStream.foreachBatch(handle)
        .option("checkpointLocation", ckpt_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    if not os.path.isdir(out_dir):  # no batch produced matches
        return spark.createDataFrame([], "new_doc bigint, dup_of bigint")
    result = spark.read.parquet(f"{out_dir}/batch-*").localCheckpoint(eager=True)
    shutil.rmtree(base, ignore_errors=True)
    return result


# ---------------------------------------------------------------------------
# Exact duplicated-SUBSTRING spans (position-level dedup — the one granularity the
# family above lacks: exact=whole doc, MinHash/SimHash/Jaccard=doc similarity,
# embedding/SemDeDup=meaning; this finds the shared ≥K-token RUNS inside documents,
# the training-data case where boilerplate/licenses/quotes repeat across otherwise
# distinct pages and the pipeline wants them redacted, not the documents dropped)
# ---------------------------------------------------------------------------
_SUBSTR_K = 8  # window tokens: every duplicated run of >= K tokens contains >= 1 window


def _substring_win_kernel(batches):
    """Stage-1 Arrow kernel of the graded builder (also the kernel of the stage-2
    A/B probe, docs/PROBES.md): tokenize, stride-1 K-token windows
    over the flat token buffer, emit (doc_id, pos, sh).

    mapInArrow form (round-14, the r7 x3_quality lesson): the text AND the
    window strings stay Arrow arrays end-to-end — the old mapInPandas wrapper
    materialized every window string as a Python object
    (``sh_all.to_numpy(zero_copy_only=False)[valid]``) just to hand it back to
    Arrow; ``sh_all.take(...)`` keeps them in the string buffer."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    K = _SUBSTR_K
    for batch in batches:
        if not batch.num_rows:
            continue
        text = batch.column("text")
        norm = pc.utf8_lower(pc.replace_substring_regex(text, "[^a-zA-Z0-9 ]", " "))
        norm = pc.utf8_trim_whitespace(pc.replace_substring_regex(norm, " +", " "))
        toks = pc.split_pattern(norm, " ")
        flat = toks.values
        offs = toks.offsets.to_numpy()
        n = len(flat)
        if n < K:
            continue
        sh_all = pc.binary_join_element_wise(
            *[flat.slice(j, n - K + 1) for j in range(K)], " "
        )
        idx = np.arange(n - K + 1)
        doc_of = np.searchsorted(offs, idx, side="right") - 1
        valid = idx <= offs[doc_of + 1] - K  # window must not cross its doc's end
        if not valid.any():
            continue
        doc_ids = batch.column("doc_id").to_numpy(zero_copy_only=False)
        yield pa.record_batch(
            {
                "doc_id": pa.array(doc_ids[doc_of[valid]], pa.int64()),
                "pos": pa.array((idx - offs[doc_of])[valid], pa.int64()),
                "sh": sh_all.take(pa.array(np.flatnonzero(valid))),
            }
        ).cast(pa.schema([("doc_id", pa.int64()), ("pos", pa.int64()), ("sh", pa.string())]))


def _substring_wins_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, pos, h1, h2) window rows — stage 1 of x1_substring_dedup: the
    Arrow kernel plus the independently-seeded xxhash64 pair projection (r11:
    h2 salts FIRST, so the pair is an effective 128-bit key in 16 bytes)."""
    docs = catalog.table(spark, sf_dir, "documents").select("doc_id", "text")
    return docs.mapInArrow(
        _substring_win_kernel, "doc_id bigint, pos long, sh string"
    ).select(
        "doc_id", "pos",
        F.xxhash64(F.col("sh")).alias("h1"),
        F.xxhash64(F.lit(1), F.col("sh")).alias("h2"),
    )


@register(
    "x1_substring_dedup",
    f"""
    WITH toks AS (SELECT doc_id, {_tok.duck_tokens('text')} AS tok FROM documents),
    wins AS (
        SELECT doc_id,
               unnest(generate_series(1, greatest(len(tok) - {_SUBSTR_K - 1}, 0))) - 1 AS pos,
               unnest(list_transform(
                   generate_series(1, greatest(len(tok) - {_SUBSTR_K - 1}, 0)),
                   i -> md5(array_to_string(list_slice(tok, i, i + {_SUBSTR_K - 1}), ' '))
               )) AS h
        FROM toks
    ),
    hits AS (
        SELECT doc_id, pos FROM (
            SELECT doc_id, pos, COUNT(*) OVER (PARTITION BY h) AS c FROM wins
        ) WHERE c >= 2
    ),
    isl AS (
        SELECT doc_id, pos,
               CASE WHEN pos - LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                         <= {_SUBSTR_K} THEN 0 ELSE 1 END AS brk
        FROM hits
    ),
    grp AS (
        SELECT doc_id, pos,
               SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING) AS g
        FROM isl
    )
    SELECT doc_id, CAST(MIN(pos) AS BIGINT) AS span_start,
           CAST(MAX(pos) + {_SUBSTR_K} AS BIGINT) AS span_end,
           CAST(COUNT(*) AS BIGINT) AS n_windows
    FROM grp GROUP BY doc_id, g
    """,
    doc=(
        "Exact duplicated-substring spans (ExactSubstr dedup, Lee et al. 2021 "
        "'Deduplicating Training Data Makes Language Models Better'): every maximal "
        f"token range covered by {_SUBSTR_K}-token windows whose exact content occurs "
        "at >= 2 positions in the corpus (across docs OR repeated within one). The "
        "paper's suffix array is replaced by the Spark-shaped equivalent: stride-1 "
        "window fingerprints + duplicate-count + per-doc interval merge — any "
        f"duplicated run of >= {_SUBSTR_K} tokens contains a full window, so spans of "
        "the suffix-array answer at window granularity, with no O(n^2) pair work. "
        "Output: (doc_id, span_start, span_end) token offsets to redact + the window "
        "count inside the span."
    ),
)
def substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three stages, all narrow rows after the kernel (raw text never shuffles):
    1. Arrow kernel (x3_fingerprint's shingle kernel + positions): tokenize, build
       stride-1 K-token windows over the flat token buffer, emit (doc_id, pos, sh).
    2. Mark duplicated windows: a pair of independently-seeded xxhash64 longs (an
       effective 128-bit key — a single 64-bit key would birthday-collide at corpus
       scale) and a count window over the pair; rows with count >= 2 survive. One
       shuffle keyed on the two longs.
    3. Merge overlapping/adjacent [pos, pos+K) intervals per doc (gaps-and-islands:
       lag -> break flag -> running island id -> min/max per island). One shuffle
       keyed on doc_id. At 100 TB both shuffles move ~(8+4+16)-byte rows, ~token
       count of the corpus — the same volume the suffix-array build would sort.

    Stage-2 alternative MEASURED AND REJECTED (r12 session 2,
    docs/PROBES.md proto_substring_stage2): hash-agg dup-key set + shuffle-hash LEFT
    SEMI join removes the big side's sort but adds a second full exchange — it
    TIES the count window at both sf0.1 (0.74 vs 0.75) and sf10 (6.33 vs 6.37,
    identical spans), so the row's cost is the kernel + exchange volume, not the
    sort order. The window form stays (one exchange, simpler plan)."""
    from pyspark.sql.window import Window

    K = _SUBSTR_K
    # Round-11: the duplicate key is a PAIR of independently-seeded xxhash64 longs
    # instead of the 32-char md5 hex string (see _substring_wins_frame) — 16-byte
    # long keys through the count shuffle (sf10 11.2 -> 9.5 s, sf0.1 1.02 -> 0.83
    # — docs/PROBES.md proto_substring). The hash is internal to the engine: both
    # engines only ever compare duplicate POSITION sets, so the oracle keeps md5.
    wins = _substring_wins_frame(spark, sf_dir)
    hits = (
        wins.withColumn("c", F.count("*").over(Window.partitionBy("h1", "h2")))
        .where(F.col("c") >= 2)
        .select("doc_id", "pos")
    )
    by_doc = Window.partitionBy("doc_id").orderBy("pos")
    grp = (
        hits.withColumn(
            "brk",
            F.when(F.col("pos") - F.lag("pos").over(by_doc) <= K, F.lit(0)).otherwise(F.lit(1)),
        )
        .withColumn("g", F.sum("brk").over(by_doc.rowsBetween(Window.unboundedPreceding, 0)))
    )
    return grp.groupBy("doc_id", "g").agg(
        F.min("pos").alias("span_start"),
        (F.max("pos") + K).alias("span_end"),
        F.count("*").cast("long").alias("n_windows"),
    ).select("doc_id", "span_start", "span_end", "n_windows")
