"""X4 — the UDF/UDAF/UDTF surface, Arrow-batched.

Demonstrates the three user-function shapes on the ``events`` / ``documents`` tables:

- scalar vectorized UDF (``pandas_udf``): operates on Arrow batches, ~10-100× faster than
  row-at-a-time Python UDFs and the only acceptable Python hot path at 100 TB;
- grouped-aggregate pandas UDF: per-group numpy reduction (median — not expressible as a
  built-in deterministic aggregate);
- UDTF shape: posexplode with ordinality (built-in generator, no Python at all).

Each has a plain-SQL oracle so the correctness gate covers the Python path end-to-end.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import DoubleType

from rubix_spark import catalog
from rubix_spark.fns import round_det
from rubix_spark.ops import _tok
from rubix_spark.queries import REGISTRY, at_scale, register


# return types passed as DataType objects (not DDL strings) so the UDFs can be defined
# before any SparkSession exists
@pandas_udf(DoubleType())
def double_value(v: pd.Series) -> pd.Series:
    """Vectorized scalar: value * 2 (×2 is exact in binary, so the SQL oracle matches bit-for-bit)."""
    return v * 2.0


@register(
    "x4_udf_scalar",
    "SELECT event_id, value * 2 AS doubled FROM events",
    doc="Arrow-batched scalar pandas UDF; oracle is the equivalent built-in expression.",
)
def udf_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = catalog.table(spark, sf_dir, "events")
    return events.select("event_id", double_value("value").alias("doubled"))


@pandas_udf(DoubleType())
def median_value(v: pd.Series) -> float:
    """Grouped-agg pandas UDF: interpolated median (matches DuckDB's quantile_cont(0.5))."""
    return float(v.median())


def _median_arrow(tbl):
    """applyInArrow kernel: one (user_id, raw median) row per group, never touching
    pandas — the batch stays an Arrow table and numpy reduces its buffer. Mirrors
    pd.Series.median exactly: NULLs dropped, NaN skipped (skipna), empty -> NULL."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    v = pc.drop_null(tbl.column("value")).to_numpy()
    v = v[~np.isnan(v)]
    med = float(np.median(v)) if len(v) else None
    return pa.table({
        "user_id": pa.array([tbl.column("user_id")[0].as_py()], pa.int64()),
        "med_raw": pa.array([med], pa.float64()),
    })


def _median_map(batches):
    """mapInArrow kernel: ALL groups in the partition reduced in one pass — lexsort
    by (user_id, value), segment offsets via np.unique, interpolated median as the
    mean of the two middle elements per segment. Per-group Python dispatch count:
    zero. Matches pd.Series.median: NULLs (NaN after to_numpy) skipped, all-NaN or
    all-NULL group -> NULL. A NULL group KEY (never present in the fixtures, but
    GROUP BY semantics require it) is carried as an explicit boolean mask and
    reduced as its own side group — no sentinel value, so a legitimate user_id
    anywhere in the int64 domain (including int64-min, the old sentinel — ADVICE
    r12) can never be confused with NULL."""
    import numpy as np
    import pyarrow as pa

    us, vs, ns = [], [], []
    for b in batches:
        ucol, vcol = b.column(0), b.column(1)
        if ucol.null_count:
            nmask = ucol.is_null().to_numpy(zero_copy_only=False)
            ucol = ucol.fill_null(0)
        else:
            nmask = np.zeros(len(ucol), dtype=bool)
        us.append(ucol.to_numpy(zero_copy_only=False).astype(np.int64, copy=False))
        vs.append(vcol.to_numpy(zero_copy_only=False))
        ns.append(nmask)
    if not us:
        return
    u = np.concatenate(us)
    v = np.concatenate(vs)
    nm = np.concatenate(ns)
    null_med = None
    if nm.any():
        nv = v[nm]
        nv = nv[~np.isnan(nv)]
        null_med = float(np.median(nv)) if nv.size else None
        u, v = u[~nm], v[~nm]
    all_u = np.unique(u)  # keeps all-NULL-value groups in the output
    valid = ~np.isnan(v)
    uv, vv = u[valid], v[valid]
    order = np.lexsort((vv, uv))
    uv, vv = uv[order], vv[order]
    grp_u, starts, counts = np.unique(uv, return_index=True, return_counts=True)
    med = (vv[starts + (counts - 1) // 2] + vv[starts + counts // 2]) / 2.0
    out = np.full(len(all_u), np.nan)
    out[np.searchsorted(all_u, grp_u)] = med
    keys = pa.array(all_u, pa.int64())
    meds = pa.array(out, pa.float64(), from_pandas=True)
    if nm.any():
        keys = pa.concat_arrays([keys, pa.array([None], pa.int64())])
        meds = pa.concat_arrays([meds, pa.array([null_med], pa.float64())])
    yield pa.record_batch({"user_id": keys, "med_raw": meds})


@register(
    "x4_udf_grouped_median",
    "SELECT user_id, FLOOR(median(value) * 100 + 0.5) / 100.0 AS med FROM events GROUP BY user_id",
    doc=(
        "Per-user exact interpolated median — the ENGINE-NATIVE body (r12 verdict "
        "#2): Spark's built-in sort-based `median` aggregate, zero Python. This is "
        "the control the Python API ladder is priced against, and it wins at every "
        "SF (idle min-of-N vs the mapInArrow kernel: sf0.1 0.24 vs 0.44, sf1 0.30 "
        "vs 0.49, sf10 1.60 vs 2.44 s) — the lesson of the X4 surface: when the "
        "engine has the exact aggregate, the best UDF is no UDF. Since r13 the "
        "aggregate reads the WRITTEN user-bucketed events layout (the x7 move "
        "applied to aggregation: the ObjectHashAggregate consumes the bucket "
        "partitioning, ZERO Exchange and no partial/final split — plan-pinned in "
        "tests/test_shuffle_ops.py), past the AT_SCALE x4_udf_grouped_median "
        "threshold (50k events rows); below, "
        "the raw-scan ablation x4_udf_grouped_median_shuffle holds the sf0.01 "
        "driver slot. Idle min-of-N layout vs shuffle, no inversion at any SF "
        "(r13 session 4): sf0.1 0.092 vs 0.198, sf1 0.268 vs 0.460, sf10 "
        "0.67-0.83 vs 1.82 s — the per-run user_id exchange plus the raw scan's "
        "partial/final split was most of the row's cost. The ladder "
        "lives on as x4_udf_grouped_median_arrow (mapInArrow, one "
        "dispatch/partition) > _grouped (applyInArrow, one dispatch/group) > "
        "_pandas (UDAF, pandas hop), all on the same DuckDB oracle. Semantics "
        "note: Spark's median and DuckDB's quantile_cont both SKIP NULLs and "
        "return NULL for an all-NULL group, matching the kernels; on NaN inputs "
        "(absent from every fixture and the adversarial corpus by contract) the "
        "in-engine aggregates sort NaN greatest while the kernel twins skip it — "
        "the kernels' model test pins the skipna contract, this body pins the "
        "engine-native one."
    ),
)
def udf_grouped_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rubix_spark.sources.bucketing import events_user_layout

    if not at_scale("x4_udf_grouped_median", sf_dir):
        return REGISTRY["x4_udf_grouped_median_shuffle"].builder(spark, sf_dir)
    ev = events_user_layout(spark, sf_dir)
    return (
        ev.groupBy("user_id")
        .agg(round_det(F.median("value")).alias("med"))
    )


@register(
    "x4_udf_grouped_median_shuffle",
    "SELECT user_id, FLOOR(median(value) * 100 + 0.5) / 100.0 AS med FROM events GROUP BY user_id",
    doc=(
        "Layout-less ablation of x4_udf_grouped_median (the graded body until "
        "r13): the same engine-native median over the raw events scan — one "
        "user_id exchange per run. Holds the sf0.01 driver-correctness slot via "
        "the graded row's size branch."
    ),
)
def udf_grouped_median_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = catalog.table(spark, sf_dir, "events")
    return (
        events.groupBy("user_id")
        .agg(round_det(F.median("value")).alias("med"))
    )


@register(
    "x4_udf_grouped_median_arrow",
    "SELECT user_id, FLOOR(median(value) * 100 + 0.5) / 100.0 AS med FROM events GROUP BY user_id",
    doc=(
        "Per-user median as ONE vectorized mapInArrow pass over "
        "repartition(user_id): the kernel reduces every group in the partition "
        "with a single lexsort + segmented gather, so the Python cost is one "
        "dispatch per PARTITION, not per group — the fastest PYTHON rung of the "
        "X4 ladder (a consume-only kernel ties it at sf10, so the residual is "
        "entirely the exchange + Arrow in-transfer; the compute is free). The "
        "graded body is the JVM-native median (r13); this twin is the measured "
        "price of insisting on a Python kernel: sf0.1 0.44 vs 0.24, sf1 0.49 vs "
        "0.30, sf10 2.44 vs 1.60 s."
    ),
)
def udf_grouped_median_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = catalog.table(spark, sf_dir, "events")
    n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    return (
        events.select("user_id", "value")
        .repartition(n, "user_id")
        .mapInArrow(_median_map, schema="user_id bigint, med_raw double")
        .select("user_id", round_det(F.col("med_raw")).alias("med"))
    )


@register(
    "x4_udf_grouped_median_grouped",
    "SELECT user_id, FLOOR(median(value) * 100 + 0.5) / 100.0 AS med FROM events GROUP BY user_id",
    doc=(
        "Per-user median via applyInArrow (Spark 4 grouped-map over pyarrow "
        "tables) — the measured price of per-GROUP Python dispatch (~35 µs/group: "
        "4.59 s vs the map form's 2.37 at sf10). API-surface twin of "
        "x4_udf_grouped_median; same oracle."
    ),
)
def udf_grouped_median_grouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = catalog.table(spark, sf_dir, "events")
    return (
        events.select("user_id", "value")
        .groupBy("user_id")
        .applyInArrow(_median_arrow, schema="user_id bigint, med_raw double")
        .select("user_id", round_det(F.col("med_raw")).alias("med"))
    )


@register(
    "x4_udf_grouped_median_pandas",
    "SELECT user_id, FLOOR(median(value) * 100 + 0.5) / 100.0 AS med FROM events GROUP BY user_id",
    doc=(
        "Grouped-AGGREGATE pandas UDF (the UDAF API shape): Arrow batch per group, "
        "pandas Series reduction. Same oracle as x4_udf_grouped_median — kept as "
        "the API-surface twin and the measured price of the pandas hop."
    ),
)
def udf_grouped_median_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = catalog.table(spark, sf_dir, "events")
    return events.groupBy("user_id").agg(round_det(median_value("value")).alias("med"))


@register(
    "x4_udtf_explode",
    f"""
    SELECT doc_id, u['pos'] AS pos, u['tok'] AS tok
    FROM (
        SELECT doc_id,
               unnest(list_transform(generate_series(1, len(toks)),
                                     i -> {{'pos': i - 1, 'tok': toks[i]}})) AS u
        FROM (SELECT doc_id, {_tok.duck_tokens('text')} AS toks FROM documents WHERE doc_id < 20)
    )
    """,
    doc="UDTF shape: posexplode(tokens) — one row per (doc, position, token); pure JVM generator.",
)
def udtf_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = catalog.table(spark, sf_dir, "documents")
    return (
        docs.where(F.col("doc_id") < 20)
        .select("doc_id", F.posexplode(_tok.tokens("text")).alias("pos", "tok"))
    )


def _topk_per_group(pdf: pd.DataFrame) -> pd.DataFrame:
    """Grouped-map kernel: rank events per user by value (desc, event_id asc), keep top 2."""
    out = pdf.sort_values(["value", "event_id"], ascending=[False, True]).head(2).copy()
    out["rk"] = range(1, len(out) + 1)
    return out[["user_id", "event_id", "value", "rk"]]


@register(
    "x4_udf_grouped_map",
    """
    SELECT user_id, event_id, value, rk FROM (
        SELECT user_id, event_id, value,
               ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY value DESC, event_id) AS rk
        FROM events
    ) WHERE rk <= 2
    """,
    doc=(
        "Grouped-map pandas UDF (applyInPandas): per-user top-2 by value — each group "
        "arrives as one Arrow-backed pandas frame; integer ranks keep the oracle exact. "
        "Deliberately the API-surface twin of q10_window_rank's JVM plan: the ~50 µs "
        "per-group pandas overhead × 100k groups IS the measured cost of the grouped-map "
        "API (6 s at sf1 vs 0.7 s for the window) — use it when per-group logic truly "
        "needs Python, use the window otherwise."
    ),
)
def udf_grouped_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = catalog.table(spark, sf_dir, "events")
    return (
        events.select("user_id", "event_id", "value")
        .groupBy("user_id")
        .applyInPandas(_topk_per_group, schema="user_id bigint, event_id bigint, value double, rk int")
    )
