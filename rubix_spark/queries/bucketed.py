"""The small bodies of two size-adaptive graded rows, registered as ablations.

``q30_yoy_delta`` and ``q31_agg_live`` each have a measured crossover (their builders'
doc strings record it): below their ``AT_SCALE`` thresholds these raw-scan bodies win,
so the graded rows dispatch here, and past them the layout bodies win. Each body
registers under its own name with the ORIGINAL query's oracle: same answer, different
layout. Layout twins without a crossover (the layout body wins at every measured
scale) are not kept; their last numbers are in docs/PROBES.md.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from rubix_spark import catalog
from rubix_spark.queries import REGISTRY, register
import rubix_spark.queries.extended  # noqa: F401  (source of the oracles)


@register(
    "q30_yoy_delta_shuffle",
    REGISTRY["q30_yoy_delta"].oracle,
    doc=(
        "q30 over the raw scans (UNION ALL channel shape + per-run orderkey shuffle). "
        "Same oracle as q30_yoy_delta."
    ),
)
def q30_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rubix_spark.queries.extended import _q30_brand_rollup

    t = catalog.load(spark, sf_dir, ("lineitem", "orders", "part"))
    li = t["lineitem"].select("l_orderkey", "l_partkey", "l_quantity", "l_returnflag")
    s = li.where(F.col("l_returnflag") == "R").unionByName(
        li.where(F.col("l_returnflag") != "R")
    )
    # same shared tail as the graded body (_q30_brand_rollup: long fast-path sum +
    # round-9 size-adaptive brand-dictionary probe) — the ablation differs only in
    # LAYOUT, so expression/probe improvements ride along
    merged = s.join(t["orders"].select("o_orderkey", "o_orderdate"),
                    F.col("l_orderkey") == F.col("o_orderkey"))
    return _q30_brand_rollup(spark, sf_dir, merged, t["part"])


@register(
    "q31_strkey_shuffle",
    REGISTRY["q31_grouping_sets"].oracle,
    doc=(
        "q31 without the dictionary-id layout: the base aggregate hash-keys the raw "
        "o_orderstatus/o_orderpriority STRINGS straight off the fixture parquet (the "
        "r4-r11 graded plan). Same one-pass + driver finalize, same oracle — the "
        "ablation measures what the materialized int keys buy (r11 verdict #1)."
    ),
)
def q31_strkey(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rubix_spark.queries.extended import _q31_finalize

    orders = catalog.table(spark, sf_dir, "orders")
    base = (
        orders.groupBy("o_orderstatus", "o_orderpriority")
        .agg(
            F.count("*").alias("c"),
            F.sum(F.floor(F.col("o_totalprice") * 10000 + F.lit(0.5)).cast("long")).alias("s"),
        )
        .collect()
    )
    return _q31_finalize(spark, [(r.o_orderstatus, r.o_orderpriority, r.c, r.s) for r in base])
