"""Bucketed tables: shuffle-free co-located joins (the 100 TB join strategy).

``bucketBy(n, key)`` pre-shuffles a table ON WRITE; any later equi-join or aggregation on
that key reads co-located buckets and skips the exchange entirely — at 100 TB that's the
difference between an hourly pipeline re-shuffling 100 TB per run and reading it in
place. This is the Spark analog of the reference's stable split→node ownership (consistent
hashing, ``ClusterManager.java:127-130``): both pin data placement by key so repeated
work lands where the data already is.

Requires ``saveAsTable`` (bucket metadata lives in the catalog, not the files).
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession

from rubix_spark import catalog


# ---------------------------------------------------------------------------
# Persistent warehouse layout: write a fixture table bucketed ONCE, reuse forever
# ---------------------------------------------------------------------------
# This is the analog of the reference's partitioned warehouse (its headline perf query
# runs against a table the warehouse already laid out by ss_sold_date_sk —
# perf/query_tpcds.sql:31): the layout cost is paid at ingest, every later fact-fact
# join / fact groupBy on the bucket key is exchange-free. At 100 TB the bucket count
# would be sized to ~shuffle-partition granularity (thousands); here it defaults to the
# local core count so one task reads one bucket.
#
# The physical data survives across sessions (bucket ids are encoded in the part-file
# names, so re-registering the SAME bucket spec over the files via CREATE TABLE ...
# CLUSTERED BY ... LOCATION is enough); only the cheap DDL is re-run per session. A
# fingerprint of the source parquet (name, size, mtime) guards staleness — the driver
# regenerates /root/testdata between rounds, and a stale layout must rebuild, not serve.

_WAREHOUSE_ENV = "RUBIX_WAREHOUSE_DIR"


def warehouse_root() -> str:
    return os.environ.get(_WAREHOUSE_ENV, os.path.join(tempfile.gettempdir(), "rubix_warehouse"))


def _source_fingerprint(src: str) -> list:
    out = []
    if os.path.isdir(src):
        for root, _, files in os.walk(src):
            for f in sorted(files):
                p = os.path.join(root, f)
                st = os.stat(p)
                out.append([os.path.relpath(p, src), st.st_size, st.st_mtime_ns])
    else:
        st = os.stat(src)
        out.append([os.path.basename(src), st.st_size, st.st_mtime_ns])
    return out


def persisted_bucketed(
    spark: SparkSession,
    label: str,
    source_path: str,
    build,
    bucket_col: str,
    n_buckets: int = 32,
    sort_col: str | None = None,
    extra_sources: tuple[str, ...] = (),
    layout_version: int = 1,
) -> DataFrame:
    """Materialize ``build() -> DataFrame`` ONCE as a persistent bucketed catalog table.

    First call per (warehouse, source generation) pays one repartition+write (ingest
    cost, amortized over every later run — one file per bucket, so sorted buckets also
    skip the join-time Sort); later calls, even from fresh sessions, only re-issue DDL
    over the existing files. Joins/groupBys keyed on ``bucket_col`` against tables from
    here plan with NO Exchange on this side (pinned by tests/test_shuffle_ops.py).

    ``source_path``: the upstream parquet whose (name, size, mtime) fingerprint decides
    staleness — the driver regenerates /root/testdata between rounds, and a stale
    layout must rebuild, not serve. ``build`` is only invoked on a rebuild.

    ``extra_sources`` (round-10): further parquet paths the build DERIVES columns
    from (the denormalized layouts join dimension tables at ingest) — their
    fingerprints join the staleness decision, so a regenerated dimension rebuilds
    the fact layout even when the fact parquet itself is unchanged.
    ``layout_version``: bump when the build's SHAPE changes (new columns), so
    artifacts written by an older build rebuild once instead of serving.
    """
    sort_col = sort_col or bucket_col
    sort_cols = list(sort_col) if isinstance(sort_col, (tuple, list)) else [sort_col]
    # off by default since 3.0 because multi-file buckets must merge-read to honor the
    # sort metadata; our layout writes exactly ONE file per bucket (repartition below),
    # so sorted scans are pure win: SMJ on the bucket key plans with zero Sort nodes.
    # Runtime-settable; set here per invariant 4 (bare driver-provided sessions).
    spark.conf.set("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
    # DisableUnnecessaryBucketedScan (Spark 4) flips a scan to non-bucketed whenever
    # the bucketing's output partitioning isn't consumed downstream — which ALSO
    # discards bucket-filter pruning (measured: `bucket = <q>` read all 32 buckets,
    # "Bucketed: false (disabled by query planner)"). Our layouts are deliberate
    # (one sorted file per bucket), so the rule only ever costs us: joins/aggs that
    # use the partitioning keep it either way, and point probes (ANN index) need the
    # pruning. Scans that use neither still get one task per bucket — the layout's
    # intended granularity.
    spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
    memo = catalog.session_memo(spark, "_rubix_bucketed_memo")
    src_key = source_path.rstrip("/")
    # sort spec is part of the memo key too — same-session callers with a
    # different sort_col must not be served the first spec's frame (ADVICE r10)
    mkey = (src_key, label, bucket_col, n_buckets, tuple(sort_cols))
    if mkey in memo:
        return memo[mkey]

    digest = hashlib.md5(src_key.encode()).hexdigest()[:8]
    # the sort spec is part of the artifact IDENTITY, not just the rebuild check
    # (ADVICE r11): two same-session callers with equal (label, bucket_col,
    # n_buckets) but different sort specs previously ping-ponged full rebuilds of
    # ONE directory while the first caller's memoized frame kept pointing at files
    # rewritten under the other spec — the zero-Sort hazard the spec_ok check was
    # meant to close. A non-default spec now gets its own directory + table; the
    # default spec (sort == bucket col) keeps the legacy name so existing
    # warehouse artifacts stay valid.
    spec = (
        ""
        if sort_cols == [bucket_col]
        else "_s" + hashlib.md5(",".join(sort_cols).encode()).hexdigest()[:6]
    )
    data_dir = os.path.join(warehouse_root(), digest, f"{label}__{bucket_col}__{n_buckets}{spec}")
    tbl = f"rxb_{label}_{bucket_col}_{digest}{spec}"
    marker = os.path.join(data_dir, "_rubix_layout.json")
    fp = _source_fingerprint(src_key)
    for extra in extra_sources:
        e = extra.rstrip("/")
        # full path in the tag + the extra's fingerprint NESTED under it (ADVICE
        # r10): basename-only tags made two extras with equal basenames and stats
        # indistinguishable, and the flat extend gave no per-extra delimiting
        fp.append(["__extra__", e, _source_fingerprint(e)])
    if layout_version != 1:
        fp.append(["__layout_version__", layout_version])

    def _read_meta():
        if os.path.exists(marker):
            try:
                with open(marker) as fh:
                    return json.load(fh)
            except (OSError, ValueError):
                return None
        return None

    # the sort spec is part of the layout contract, not just the marker (ADVICE
    # r10): legacy.bucketedTableScan.outputOrdering makes Spark TRUST the SORTED BY
    # DDL, so re-registering old files under a new sort spec would hand zero-Sort
    # SMJs/windows unsorted data — silently wrong results. A spec mismatch with an
    # unchanged source fingerprint must rebuild, not serve.
    def _current(meta):
        return meta is not None and (
            meta.get("sort_col") == sort_cols
            and meta.get("bucket_col") == bucket_col
            and meta.get("n_buckets") == n_buckets
            and meta.get("schema_ddl")
            and meta.get("fingerprint") == fp
        )

    def _rebuild():
        # (re)build: source changed or first run. Repartition by the bucket key first so
        # each bucket is exactly ONE file (otherwise every write task emits a file per
        # bucket it sees, and multi-file buckets lose the sorted-scan guarantee).
        from pyspark.sql import functions as F

        df = build()
        schema_ddl = ", ".join(f"`{f.name}` {f.dataType.simpleString()}" for f in df.schema.fields)
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
        shutil.rmtree(data_dir, ignore_errors=True)
        writer = (
            df.repartition(n_buckets, F.col(bucket_col))
            .write.mode("overwrite")
            .bucketBy(n_buckets, bucket_col)
            .option("path", data_dir)
        )
        if sort_cols:
            writer = writer.sortBy(sort_cols[0], *sort_cols[1:])
        writer.format("parquet").saveAsTable(tbl)
        os.makedirs(data_dir, exist_ok=True)
        # marker lands atomically (tmp + rename): a concurrent reader sees either the
        # previous generation's marker, no marker, or this complete one — never a
        # truncated JSON that _read_meta would treat as absent mid-serve
        tmp_marker = marker + ".tmp"
        with open(tmp_marker, "w") as fh:
            json.dump({"fingerprint": fp, "schema_ddl": schema_ddl, "n_buckets": n_buckets,
                       "bucket_col": bucket_col, "sort_col": sort_cols}, fh)
        os.replace(tmp_marker, marker)

    meta = _read_meta()
    built = False
    if not _current(meta):
        # cross-process exclusive rebuild (the manifest's flock discipline applied to
        # layout artifacts — adversarial warehouse schedules showed two sessions'
        # interleaved rmtree + saveAsTable can commit part-files from BOTH writers
        # into one directory under a valid-looking marker: silently duplicated rows).
        # Re-check under the lock: the builder we waited on usually built exactly
        # what we need, and the second build must not rmtree files the first
        # builder's session is already registered over.
        import fcntl

        os.makedirs(os.path.dirname(data_dir), exist_ok=True)
        with open(data_dir + ".lock", "w") as lf:
            fcntl.flock(lf, fcntl.LOCK_EX)
            meta = _read_meta()
            if not _current(meta):
                _rebuild()
                built = True
    if not built:
        # layout current (or a concurrent builder just wrote it): register the
        # existing files — cheap, per-session DDL only
        sorted_by = (
            "SORTED BY (" + ", ".join(f"`{c}` ASC" for c in sort_cols) + ")"
            if sort_cols else ""
        )
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")  # external: files untouched
        spark.sql(
            f"CREATE TABLE {tbl} ({meta['schema_ddl']}) USING parquet "
            f"CLUSTERED BY (`{bucket_col}`) {sorted_by} INTO {n_buckets} BUCKETS "
            f"LOCATION '{data_dir}'"
        )
    out = spark.table(tbl)
    memo[mkey] = out
    return out


# ---------------------------------------------------------------------------
# Denormalized fact layouts (round-10): materialize the FK -> dimension-key
# closure INTO the orderkey fact layouts at ingest.
# ---------------------------------------------------------------------------
# The probes these columns replace were q4/q29/q30/q32's residual cost (r9
# verdict): a customer map probed per orders row, a supplier map probed per
# SMJ-output row, a 2-6M-entry part->brand map probed per lineitem row. A
# dimension KEY is static per fact row, so the star-schema move is to flatten it
# at ingest (+4-8 B/row) and turn every probe into a scan filter or a group key:
#   lineitem += l_supp_natkey (l_suppkey -> s_nationkey),
#               l_brand_bid   (l_partkey -> dictionaries.brand_dictionary id)
#   orders   += o_cust_natkey (o_custkey -> c_nationkey)
# 100 TB story: the replaced customer broadcast GROWS with the fact table (~150M
# entries at sf1000 — infeasible), while the materialized int stays a local
# pushed filter forever. Joins at ingest are left joins against unique-key dims,
# so row counts never change and inner-join semantics are recoverable downstream
# (natkey IS NOT NULL == the semi-join; bid attach == the part inner join).
# Extra columns are invisible to existing consumers (parquet column pruning).
#
# NULL contract (ADVICE r10, round-11): a materialized natkey is NULL **iff the
# fact row has NO matching dimension row**; a MATCHED dimension row whose own
# nationkey is NULL is encoded as the -1 sentinel (nationkeys are 0..24, so -1
# never collides and never matches a value filter or a nation attach join —
# exactly how the oracle's inner join to nation treats a NULL key). This makes
# `natkey IS NOT NULL` an exact existence (semi-join) signal: before the
# sentinel, a matched-supplier-with-NULL-s_nationkey row was indistinguishable
# from a missing supplier and q29 would silently drop it where the oracle's bare
# supplier join keeps it.
# per-table versions (r12): bumping one table's build no longer forces the other
# fact layout to rebuild at every SF. orders v4 = + o_status_sid/o_priority_pid
# dictionary ids (q31's grouping keys — the 15M-row base aggregate hash-keys two
# ints and never decodes the status/priority strings from parquet). lineitem v4 =
# + l_rf_sid/l_ls_sid (q3/q28's returnflag/linestatus keys — invariant 29 applied
# to lineitem's own report keys).
_DENORM_LAYOUT_VERSIONS = {"lineitem": 4, "orders": 4}


def _denorm_build(spark: SparkSession, sf_dir: str, name: str):
    """Build fn + extra fingerprint sources for the widened fact layouts."""
    from pyspark.sql import functions as F

    from rubix_spark.sources.dictionaries import brand_dictionary, brand_probe

    root = sf_dir.rstrip("/")
    if name == "lineitem":
        def build():
            from rubix_spark.sources.dictionaries import column_dictionary, dict_id_expr

            li = catalog.table(spark, sf_dir, "lineitem")
            supp = catalog.table(spark, sf_dir, "supplier").select(
                "s_suppkey",
                F.coalesce(F.col("s_nationkey"), F.lit(-1)).alias("l_supp_natkey"))
            pid = brand_probe(
                catalog.table(spark, sf_dir, "part"),
                brand_dictionary(spark, sf_dir),
            ).select("p_partkey", F.col("bid").alias("l_brand_bid"))
            # dictionary ids for the two low-cardinality report keys (v4, q3/q28:
            # 1 + rank in the NULLS-FIRST sorted distinct list, as orders v4)
            rf_sid = dict_id_expr(
                F.col("l_returnflag"),
                column_dictionary(spark, sf_dir, "lineitem", "l_returnflag"))
            ls_sid = dict_id_expr(
                F.col("l_linestatus"),
                column_dictionary(spark, sf_dir, "lineitem", "l_linestatus"))
            # ingest-time joins: broadcast the 100k-row supplier map; the part
            # map (6M rows at sf10) is left to the planner/AQE — this is the
            # one-time write path, not a per-query cost
            return (
                li.join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"),
                        "left").drop("s_suppkey")
                .join(pid, F.col("l_partkey") == F.col("p_partkey"), "left")
                .drop("p_partkey")
                .withColumn("l_rf_sid", rf_sid)
                .withColumn("l_ls_sid", ls_sid)
            )

        return build, (f"{root}/supplier.parquet", f"{root}/part.parquet")
    if name == "orders":
        def build():
            from rubix_spark.sources.dictionaries import column_dictionary, dict_id_expr

            o = catalog.table(spark, sf_dir, "orders")
            cust = catalog.table(spark, sf_dir, "customer").select(
                "c_custkey",
                F.coalesce(F.col("c_nationkey"), F.lit(-1)).alias("o_cust_natkey"))
            # dictionary ids for the two low-cardinality report keys (r12, q31):
            # ids are 1 + rank in the NULLS-FIRST sorted distinct list, so a
            # rebuilt layout and a fresh session's finalize always agree
            sid = dict_id_expr(
                F.col("o_orderstatus"),
                column_dictionary(spark, sf_dir, "orders", "o_orderstatus"))
            pid = dict_id_expr(
                F.col("o_orderpriority"),
                column_dictionary(spark, sf_dir, "orders", "o_orderpriority"))
            return (
                o.join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"),
                       "left").drop("c_custkey")
                .withColumn("o_status_sid", sid)
                .withColumn("o_priority_pid", pid)
            )

        return build, (f"{root}/customer.parquet",)
    raise KeyError(name)


def events_user_layout(spark: SparkSession, sf_dir: str, n_buckets: int = 32) -> DataFrame:
    """events bucketed by user_id, sorted (user_id, us), with the integer-micros
    event time MATERIALIZED (the q20 hypertable move, keyed for sessionization
    instead of time bucketing). Every per-user ordered computation — as-of joins,
    range-window lookbacks, session windows — consumes the bucket partitioning
    and the two-level sort directly: zero Exchange, zero Sort, at any scale. The
    raw window form's per-run user_id shuffle of the whole stream was x7's
    dominant cost (r9 verdict weak row)."""
    from pyspark.sql import functions as F

    def build():
        ev = catalog.table(spark, sf_dir, "events")
        return ev.withColumn("us", F.unix_micros(F.col("ts").cast("timestamp")))

    return persisted_bucketed(
        spark,
        label="events_user",
        source_path=f"{sf_dir.rstrip('/')}/events.parquet",
        build=build,
        bucket_col="user_id",
        n_buckets=n_buckets,
        sort_col=("user_id", "us"),
    )


def bucketed_table(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    bucket_col: str,
    n_buckets: int = 32,
    sort_col: str | None = None,
) -> DataFrame:
    """Fixture table ``name`` as a persistent bucketed layout (see persisted_bucketed).

    The orderkey FACT layouts are denormalized (see _denorm_build): they carry the
    materialized dimension keys in addition to the fixture columns."""
    if (name, bucket_col) in (("lineitem", "l_orderkey"), ("orders", "o_orderkey")):
        build, extras = _denorm_build(spark, sf_dir, name)
        return persisted_bucketed(
            spark,
            label=name,
            source_path=f"{sf_dir.rstrip('/')}/{name}.parquet",
            build=build,
            bucket_col=bucket_col,
            n_buckets=n_buckets,
            sort_col=sort_col,
            extra_sources=extras,
            layout_version=_DENORM_LAYOUT_VERSIONS[name],
        )
    return persisted_bucketed(
        spark,
        label=name,
        source_path=f"{sf_dir.rstrip('/')}/{name}.parquet",
        build=lambda: catalog.table(spark, sf_dir, name),
        bucket_col=bucket_col,
        n_buckets=n_buckets,
        sort_col=sort_col,
    )
