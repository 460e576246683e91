"""Skew-handling join: key salting (the manual companion to AQE's skew-join split).

A hot key (one user with 10% of all events, one null-ish default id) sends its whole
partition to a single reducer; at 100 TB that one task runs for hours while the rest of
the cluster idles. ``salted_join`` spreads the hot side's rows over ``n_salts``
sub-partitions and replicates the small side once per salt — same result, bounded
per-task size.

AQE (``spark.sql.adaptive.skewJoin.enabled``, on in our session) handles this
automatically for sort-merge joins; explicit salting remains the tool when AQE can't see
the skew (aggregation keys, non-SMJ plans, streaming state).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def salted_join(
    big: DataFrame,
    small: DataFrame,
    on: str,
    n_salts: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Equi-join robust to skew in ``big[on]``: salt big, replicate small ×n_salts.

    Output columns = big's columns + small's non-key columns (the usual join result;
    salt columns never escape).

    ``how`` is restricted to the joins whose semantics survive replicating the
    small side: inner and the big-side-preserving left family. A right/full outer
    join would emit one null-extended row PER SALT REPLICA for every unmatched
    small-side key (r13 review) — fail loudly instead of multiplying rows.
    """
    allowed = {"inner", "left", "left_outer", "leftouter", "left_semi", "leftsemi",
               "left_anti", "leftanti", "semi", "anti"}
    if how.lower() not in allowed:
        raise ValueError(
            f"salted_join supports {sorted(allowed)} — '{how}' would duplicate "
            "unmatched small-side rows across salt replicas"
        )
    salted_big = big.withColumn("_salt", (F.rand(seed=42) * n_salts).cast("int"))
    salts = F.array(*[F.lit(i) for i in range(n_salts)])
    exploded_small = small.withColumn("_salt", F.explode(salts))
    joined = salted_big.join(exploded_small, [on, "_salt"], how)
    return joined.drop("_salt")

