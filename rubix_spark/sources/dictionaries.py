"""Driver-side dimension dictionaries (the narrow-probe rule's int-id side).

Small, deterministic, per-(session, sf_dir) memoized lookups under the session
stat-store contract (fixtures are immutable per session; every memo keys on
sf_dir — tests/test_session_memos.py). These are the collects the r9 verdict
audited as bounded: a ~25-row brand list and a <=25-row nationkey set.

Lives in sources/ (not queries/) because round-10's denormalized fact layouts
(sources/bucketing.py) materialize the brand id at ingest — the layout build and
the query-side attach must share ONE bid assignment rule.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from rubix_spark import catalog


def brand_dictionary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(brand_key, bid) dictionary over part's distinct brands — the narrow-probe
    rule (q4/q29/q19) applied to q30's 2-6M-entry part probe: the INT bid rides
    through the fact-stream probe and the group key; the brand STRING attaches on
    the ~175-row aggregate. Measured −19% on q30 at sf30 (where the probe is 5.1 s
    of 7.9 s — docs/PROBES.md proto_q30_dict), −2.5%/−5% at sf10/sf1, rows identical.

    The distinct-brand list is collected ONCE per (session, sf_dir) and memoized
    (bounded ~25-row collect — the catalog.table / q2 stat-store contract:
    fixtures are immutable per session); every later build is a local ~25-row
    DataFrame with zero jobs. bid is deterministic: 1 + rank in the NULLS-FIRST
    sorted brand list (== dense_rank over brand) — a REBUILT layout and a fresh
    session's attach join always agree. brand_key is a FRESH name (invariant 12
    — both dictionary consumers derive from the same part scan)."""
    memo = getattr(spark, "_rubix_brand_dict_memo", None)
    if memo is None:
        memo = {}
        spark._rubix_brand_dict_memo = memo
    key = sf_dir.rstrip("/")
    if key not in memo:
        rows = (
            catalog.table(spark, sf_dir, "part").select("p_brand").distinct().collect()
        )
        brands = sorted((r[0] for r in rows), key=lambda b: (b is not None, b))
        memo[key] = brands
    from pyspark.sql.types import IntegerType, StringType, StructField, StructType

    schema = StructType([
        StructField("brand_key", StringType(), True),
        StructField("bid", IntegerType(), False),
    ])
    return spark.createDataFrame(
        [(b, i + 1) for i, b in enumerate(memo[key])], schema
    )


def brand_probe(part: DataFrame, bdict: DataFrame) -> DataFrame:
    """(p_partkey, bid) probe side for the fact join — NULL-safe on brand so a
    NULL-brand part keeps its group exactly as the oracle's GROUP BY does."""
    return (
        part.select("p_partkey", "p_brand")
        .join(F.broadcast(bdict), F.col("p_brand").eqNullSafe(F.col("brand_key")))
        .select("p_partkey", "bid")
    )


def null_brand_bid(spark: SparkSession, sf_dir: str) -> int | None:
    """The bid assigned to the NULL brand, or None when every brand is non-NULL.
    NULLs sort first in the dictionary, so this is bid 1 when present. Lets a
    consumer that must EXCLUDE NULL-brand groups (oracle inner-joins on item) do
    so with an int filter before any sort/limit, instead of an attach join that
    would run too late."""
    brand_dictionary(spark, sf_dir)  # ensure the memo
    brands = spark._rubix_brand_dict_memo[sf_dir.rstrip("/")]
    return 1 if brands and brands[0] is None else None


def column_dictionary(spark: SparkSession, sf_dir: str, table: str, col: str) -> list:
    """Sorted NULLS-FIRST distinct values of a low-cardinality string column —
    the brand_dictionary rule generalized (r11 verdict #1: q31's grouping keys).
    id = 1 + index in this list, so a layout built in ANY session and a fresh
    session's attach/finalize always agree (the distinct set is fixture-determined
    and the sort is total). Collected once per (session, sf_dir, table, col) and
    memoized; ingest pays it untimed, a query session pays one narrow distinct
    scan on first use (the session stat-store contract)."""
    memo = getattr(spark, "_rubix_col_dict_memo", None)
    if memo is None:
        memo = {}
        spark._rubix_col_dict_memo = memo
    key = (sf_dir.rstrip("/"), table, col)
    if key not in memo:
        rows = catalog.table(spark, sf_dir, table).select(col).distinct().collect()
        memo[key] = sorted((r[0] for r in rows), key=lambda v: (v is not None, v))
    return memo[key]


def dict_id_expr(col, values: list):
    """CASE chain mapping ``col`` to its 1-based dictionary id (NULL-safe — a NULL
    value holds slot 1 when present). For the <=25-value dictionaries this lives
    in whole-stage codegen as a short eqNullSafe ladder: no join, no shuffle,
    used at layout INGEST so queries only ever see the materialized int."""
    expr = F.lit(None).cast("int")
    # built back-to-front so the final expression tests values[0] first; values
    # are distinct, so precedence only affects readability
    for i in range(len(values) - 1, -1, -1):
        cond = col.isNull() if values[i] is None else (col == F.lit(values[i]))
        expr = F.when(cond, F.lit(i + 1)).otherwise(expr)
    return expr


def dict_decode_expr(sid_col, values: list):
    """Inverse of dict_id_expr: map a 1-based dictionary id back to its string —
    applied only to POST-AGGREGATE rows (a handful per query), so the CASE ladder
    costs nothing while the fact-scale scan/aggregate never touches the strings
    (invariant 29). A NULL value in slot 1 decodes back to NULL."""
    expr = F.lit(None).cast("string")
    for i in range(len(values) - 1, -1, -1):
        expr = F.when(sid_col == F.lit(i + 1), F.lit(values[i])).otherwise(expr)
    return expr


def region_nationkeys(spark: SparkSession, sf_dir: str, regions: tuple[str, ...]) -> list:
    """The nationkeys whose nation sits in one of ``regions`` — the literal in-set
    that pushes a region predicate INTO a denormalized fact scan (q4/q29 over the
    round-10 layouts). <=25-element collect, memoized per (session, sf_dir,
    regions); sorted so downstream In() filters are deterministic."""
    memo = getattr(spark, "_rubix_region_nk_memo", None)
    if memo is None:
        memo = {}
        spark._rubix_region_nk_memo = memo
    key = (sf_dir.rstrip("/"), tuple(sorted(regions)))
    if key not in memo:
        nation = catalog.table(spark, sf_dir, "nation")
        region = catalog.table(spark, sf_dir, "region")
        rows = (
            nation.join(
                F.broadcast(region.where(F.col("r_name").isin(*regions))),
                F.col("n_regionkey") == F.col("r_regionkey"),
            )
            .select("n_nationkey")
            .collect()
        )
        memo[key] = sorted(r[0] for r in rows)
    return memo[key]
