"""rubix_spark — a PySpark-native analytics engine with the capabilities of qubole/rubix.

The reference (``/root/reference``, qubole/rubix) is a distributed block-level cache under
Big-Data SQL engines; its *query* surface is the TPC-DS workload corpus it ships
(``rubix-stress/queries/*.sql``, ``perf/query_tpcds.sql``).  This package re-expresses that
surface Spark-first:

- ``rubix_spark.session``    — SparkSession builder tuned for AQE / parquet scans
- ``rubix_spark.catalog``    — fixture-table loading (``/root/testdata/<sf>``)
- ``rubix_spark.queries``    — the declared relational inventory Q1..Q20 (SURVEY.md §2.B)
- ``rubix_spark.ops``        — LLM-pipeline extension operators (dedup, similarity, text, udf,
                               multimodal) — SURVEY.md X1..X4
- ``rubix_spark.cache``      — RubiX cache semantics (warm/read-through/evict/invalidate) built
                               on parquet materialization + a manifest (SURVEY.md §2.A)
- ``rubix_spark.streaming``  — Structured Streaming S1/S2 (windowed aggs, sessionization)
- ``rubix_spark.pyworker``   — Spark's Python worker daemon without the zips on ``sys.path``
"""

__all__ = ["get_session"]


def __getattr__(name: str):
    # lazy, so ``python -m rubix_spark.pyworker`` runs before anything imports pyspark
    if name == "get_session":
        from rubix_spark.session import get_session

        return get_session
    raise AttributeError(f"module {__name__!r} has no attribute {name!r}")
