"""S1/S2 — Structured Streaming over the ``events`` stream.

- S1: sliding window (10 min window / 5 min slide) count+sum per event_type, with a
  15-minute watermark for late-data eviction of state;
- S2: sessionization per user with a 30-minute inactivity gap (``session_window``).

The registered queries run the *streaming* plan with ``trigger(availableNow)`` into a
memory sink and return the result — batch-equivalent by construction on a finite input,
which is exactly the reference-style golden check (SURVEY.md §5).  The DuckDB oracles
restate the same window semantics in plain SQL, so the correctness gate covers the
streaming operators too.

Scale notes: watermark bounds state store size (without it, every window lives forever);
session_window keys state by (user, session) and merges on arrival — the built-in
implementation shuffles once on user_id.  `applyInPandasWithState` is the escape hatch
for custom gap logic; not needed for the declared semantics.
"""

from __future__ import annotations

import os
import threading
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from rubix_spark.cache import footer
from rubix_spark.fns import duck_sum_fast, money_from_units
from rubix_spark.queries import register

# Streaming requires a pinned schema; the ts column's declared type depends on the
# fixture's physical parquet unit (detected per directory, see _events_ts_is_nanos):
# TIMESTAMP(NANOS) fixtures read as int64 nanos (session sets nanosAsLong),
# TIMESTAMP(MICROS) fixtures read natively as TimestampType.
_EVENTS_SCHEMA_NANOS = (
    "event_id bigint, ts bigint, user_id bigint, event_type string, value double, props string"
)
_EVENTS_SCHEMA_MICROS = (
    "event_id bigint, ts timestamp, user_id bigint, event_type string, value double, props string"
)


def _events_ts_is_nanos(sf_dir: str) -> bool:
    """True when the fixture stores ts as TIMESTAMP(NANOS) (driver fixtures have shipped
    both ns and µs over time). The first file's footer comes from the footer cache,
    keyed by file version, so a rewritten fixture is re-read."""
    path = os.path.join(sf_dir.rstrip("/"), "events.parquet")
    schema = footer.file_meta(footer.parquet_files(path)[0]).schema
    return getattr(schema.field("ts").type, "unit", None) == "ns"


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events fixture (schema pinned — streaming requires it).

    The file source needs a directory, so we point at the sf_dir with a glob filter.
    Nanos fixtures arrive as int64 (µs-aligned, so DIV 1000 is lossless); micros
    fixtures arrive as TimestampType directly.
    """
    from rubix_spark.catalog import ensure_session_confs

    ensure_session_confs(spark)
    nanos = _events_ts_is_nanos(sf_dir)
    reader = spark.readStream.schema(
        _EVENTS_SCHEMA_NANOS if nanos else _EVENTS_SCHEMA_MICROS
    ).format("parquet")
    path = os.path.join(sf_dir.rstrip("/"), "events.parquet")
    if os.path.isdir(path):
        # generated fixtures: events.parquet is a directory of part-files — stream it
        # directly (pathGlobFilter matches leaf file names, so it would see 0 files)
        raw = reader.load(path)
    else:
        raw = reader.option("pathGlobFilter", "events.parquet").load(sf_dir.rstrip("/"))
    if not nanos:
        # TimestampType already (watermarks require it; session tz is UTC so values align)
        return raw
    return raw.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))


def sliding_counts(events: DataFrame) -> DataFrame:
    """S1 plan: watermark + sliding window aggregate (works on a batch DF too)."""
    return (
        events.withWatermark("ts", "15 minutes")
        .groupBy(F.window("ts", "10 minutes", "5 minutes").alias("win"), "event_type")
        .agg(
            F.count("*").alias("c"),
            # round-8: long ten-thousandths + integer hundredths finalize (fns)
            money_from_units(
                F.sum(F.floor(F.col("value") * 10000 + F.lit(0.5)).cast("long")), "v"
            ),
        )
        .select(F.col("win.start").alias("ws"), "event_type", "c", "v")
    )


def session_stats(events: DataFrame) -> DataFrame:
    """S2 plan: 30-minute-gap session window per user (works on a batch DF too)."""
    return (
        events.withWatermark("ts", "15 minutes")
        .groupBy(F.session_window("ts", "30 minutes").alias("win"), "user_id")
        .agg(
            F.count("*").alias("n_events"),
            money_from_units(
                F.sum(F.floor(F.col("value") * 10000 + F.lit(0.5)).cast("long")), "total_v"
            ),
        )
        .select("user_id", F.col("win.start").alias("session_start"), "n_events", "total_v")
    )


def _stream_partitions(sf_dir: str) -> int:
    """State-store partition count sized to the stream's input, not the batch shuffle
    default: every stateful operator instantiates one state store PER shuffle partition
    PER micro-batch (a stream-stream join keeps four), so 32 partitions over a tens-of-MB
    micro-batch is pure commit overhead (measured: s5 3.1 s -> 2.3 s at 8). Scale up by
    input size exactly like a production job sizes state partitions to state volume."""
    path = os.path.join(sf_dir.rstrip("/"), "events.parquet")
    try:
        if os.path.isdir(path):  # generated fixtures: a directory of part-files
            size = sum(
                os.path.getsize(os.path.join(r, f)) for r, _, fs in os.walk(path) for f in fs
            )
        else:
            size = os.path.getsize(path)
    except OSError:
        size = 0
    # floor of 4 (was 8): at sf0.1 the events micro-batch is ~10 MB and state-store
    # instantiation+commit is the dominant cost of the streaming rows (r5 verdict:
    # s2/s6 were 2 of the top-3 driver-window rows); halving the store count measured
    # s2 0.96->0.72 s with identical results. One store per 32 MB of input beyond that.
    return max(4, size // (32 * 1024 * 1024))


# Streaming runs mutate the session-global shuffle-partition conf for the duration of
# the run (the state-store count is pinned at query start). The lock serializes
# streaming builders against each other so a racing builder can never observe the
# temporarily-lowered value or clobber the restore. Batch builders running concurrently
# on the same session may still see the lowered value — acceptable (AQE coalesces), but
# bench's threaded phase should not interleave streaming with batch builders.
_shuffle_conf_lock = threading.Lock()


def _drive_capture(
    spark: SparkSession,
    result: DataFrame,
    mode: str,
    partitions: int | None,
    run_query,
) -> DataFrame:
    """Shared scaffolding for bounded stream execution (one implementation for every
    runner — a second copy of this contract drifted within a session, review-caught).

    Round-6: foreachBatch + eager ``localCheckpoint`` instead of a memory sink. The
    memory sink materializes every batch as rows ON THE DRIVER and its table is never
    dropped, so a long session (the 113-query bench runs each streaming row several
    times) accumulated ~100k driver rows per run with no reclaim path; checkpointed
    batches live in executor storage and are reclaimed by the ContextCleaner when the
    returned DataFrame is collected and dropped (invariant 9 economics). Measured
    slightly FASTER than the memory sink as well (no driver round trip). In complete
    mode the LAST batch is the full result; in append mode the result is the union of
    batch outputs.

    ``partitions`` (from ``_stream_partitions``) is applied for the duration of the run
    and restored after — the state-store count is pinned into the query's checkpoint at
    start, so this is the one place it can be set. ``run_query(writer)`` sets the
    trigger, starts the query, and drives it to completion."""
    batches: list[tuple[int, DataFrame]] = []

    def capture(bdf: DataFrame, batch_id: int) -> None:
        batches.append((batch_id, bdf.localCheckpoint(eager=True)))

    with _shuffle_conf_lock:
        prev = spark.conf.get("spark.sql.shuffle.partitions")
        if partitions is not None:
            spark.conf.set("spark.sql.shuffle.partitions", str(partitions))
        try:
            run_query(result.writeStream.foreachBatch(capture).outputMode(mode))
        finally:
            if partitions is not None:
                spark.conf.set("spark.sql.shuffle.partitions", prev)
    if not batches:
        return spark.createDataFrame([], result.schema)
    if mode == "complete":
        return max(batches)[1]  # the last complete-mode batch IS the full result
    out = None
    for _, bdf in sorted(batches, key=lambda t: t[0]):
        out = bdf if out is None else out.unionByName(bdf)
    return out


def _run_available_now(
    spark: SparkSession, result: DataFrame, mode: str = "complete", partitions: int | None = None
) -> DataFrame:
    """Execute a streaming plan to completion; return the result as a DataFrame.
    NOTE: availableNow never runs the trailing no-data batch (invariant 37) — for
    plans with event-time timeouts use ``stateful._run_append_until_quiescent``."""

    def run(writer):
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination()

    return _drive_capture(spark, result, mode, partitions, run)


@register(
    "s1_stream_sliding",
    f"""
    WITH w AS (
        SELECT make_timestamp((epoch_ms(ts) // 300000) * 300000 * 1000
                              - g.i * 300000000) AS ws,
               event_type, value, ts
        FROM events, generate_series(0, 1) g(i)
        WHERE ts IS NOT NULL
    )
    SELECT ws, event_type, COUNT(*) AS c,
           {duck_sum_fast("value", "v")}
    FROM w
    GROUP BY ws, event_type
    """,
    doc=(
        "Streaming sliding-window agg (10m/5m, 15m watermark) run via availableNow → memory "
        "sink; oracle expands each event into its two covering windows and drops NULL "
        "event times (the event-time contract — window() drops them in batch AND stream)."
    ),
)
def s1_stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _run_available_now(
        spark, sliding_counts(read_events_stream(spark, sf_dir)),
        partitions=_stream_partitions(sf_dir),
    )


@register(
    "s2_stream_session",
    f"""
    WITH o AS (
        SELECT user_id, ts, value,
               CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                         OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                            > INTERVAL 30 MINUTE
                    THEN 1 ELSE 0 END AS new_s
        FROM events WHERE ts IS NOT NULL
    ),
    s AS (
        SELECT user_id, ts, value,
               SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS UNBOUNDED PRECEDING) AS sid
        FROM o
    )
    SELECT user_id, MIN(ts) AS session_start, COUNT(*) AS n_events,
           {duck_sum_fast("value", "total_v")}
    FROM s GROUP BY user_id, sid
    """,
    doc=(
        "Streaming sessionization (session_window, 30m gap) via availableNow → memory sink; "
        "oracle is the classic gap-start cumulative-sum sessionizer. Contract edges "
        "(r13 adversarial streams): session_window MERGES two events EXACTLY gap "
        "apart (its window end is inclusive for merging), so a new session starts "
        "strictly PAST the gap (> not >=); NULL event times are dropped exactly as "
        "every event-time operator drops them (the oracle states both)."
    ),
)
def s2_stream_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _run_available_now(
        spark, session_stats(read_events_stream(spark, sf_dir)),
        partitions=_stream_partitions(sf_dir),
    )


# s6 sweeps a prior run's checkpoint/sink dir only once it is this old (ADVICE r6)
_SWEEP_GRACE_S = 600


@register(
    "s6_stream_durable_sink",
    f"""
    WITH w AS (
        SELECT make_timestamp((epoch_ms(ts) // 300000) * 300000 * 1000
                              - g.i * 300000000) AS ws,
               event_type, value, ts
        FROM events, generate_series(0, 1) g(i)
        WHERE ts IS NOT NULL
    )
    SELECT ws, event_type, COUNT(*) AS c,
           {duck_sum_fast("value", "v")}
    FROM w
    GROUP BY ws, event_type
    """,
    doc=(
        "The S1 sliding-window plan run through the PRODUCTION sink shape: foreachBatch "
        "writing parquet with a checkpointLocation, then a second start() against the "
        "same checkpoint (a restart: resumes, finds no new input, terminates — the "
        "exactly-once recovery path), and the returned result is read back from the "
        "DURABLE parquet sink, not a memory table. Deployment would swap "
        "trigger(availableNow) for a processingTime trigger; plan, sink and checkpoint "
        "story are identical."
    ),
)
def s6_stream_durable_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    import glob
    import shutil
    import tempfile

    # Each run gets a fresh checkpoint (a reused one would make the whole run a no-op
    # restart and return the PREVIOUS result without recomputing — correct-looking but
    # a lie in a benchmark). Accumulation is bounded by sweeping prior runs' dirs here
    # instead of paying a localCheckpoint job to allow same-run cleanup (r6: the
    # returned frame now reads the durable sink lazily, which is also the honest
    # "result served from the sink" shape). Age-gated (ADVICE r6): the root is shared,
    # and concurrent sessions run s6 too — only dirs past the grace window are swept,
    # so an active run's checkpoint/sink (or a frame a caller still holds from a
    # recent run) is never deleted underneath it.
    import time as _time

    root = os.path.join(tempfile.gettempdir(), "rubix_spark_stream")
    now = _time.time()
    for stale in glob.glob(os.path.join(root, "*")):
        try:
            if now - os.path.getmtime(stale) < _SWEEP_GRACE_S:
                continue
        except OSError:
            continue
        shutil.rmtree(stale, ignore_errors=True)
    base = os.path.join(root, uuid.uuid4().hex[:12])
    out_dir, ckpt_dir = os.path.join(base, "out"), os.path.join(base, "ckpt")
    os.makedirs(ckpt_dir, exist_ok=True)

    def write_batch(bdf: DataFrame, batch_id: int) -> None:
        # complete-mode batches carry the full current result — overwrite makes the
        # sink idempotent under retries (the foreachBatch exactly-once recipe).
        # NOT coalesce(1): the complete-mode output is computed by the same tasks that
        # read the state stores, so collapsing to one task serializes the state
        # read-back (A/B-measured +0.3 s, not a commit saving).
        bdf.write.mode("overwrite").parquet(out_dir)

    with _shuffle_conf_lock:
        prev = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", str(_stream_partitions(sf_dir)))
        try:
            # ONE planned stream reused by both starts (the logical plan is immutable;
            # each start() materializes a fresh query against the same checkpoint)
            plan = sliding_counts(read_events_stream(spark, sf_dir))
            for _ in range(2):  # second start = checkpoint restart with no new input
                q = (
                    plan.writeStream.foreachBatch(write_batch)
                    .option("checkpointLocation", ckpt_dir)
                    .outputMode("complete")
                    .trigger(availableNow=True)
                    .start()
                )
                q.awaitTermination()
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", prev)
    return spark.read.parquet(out_dir)


def dedup_stream(events: DataFrame) -> DataFrame:
    """S3 plan: streaming exact dedup on event_id within the watermark horizon."""
    return (
        events.withWatermark("ts", "15 minutes")
        .dropDuplicates(["event_id"])
        .groupBy()
        .agg(F.count("*").alias("n_unique"))
    )


@register(
    "s3_stream_dedup",
    "SELECT CAST(COUNT(DISTINCT event_id)"
    "     + (CASE WHEN COUNT(*) > COUNT(event_id) THEN 1 ELSE 0 END) AS BIGINT)"
    " AS n_unique FROM events",
    doc=(
        "Streaming exact dedup (dropDuplicates keyed on event_id, watermark-bounded "
        "state) — the streaming twin of X1 exact dedup; count of survivors equals the "
        "batch COUNT(DISTINCT). Contract edge (r13 adversarial streams): "
        "dropDuplicates treats NULL keys as one group and keeps NULL-event-time rows "
        "(dedup state is keyed, not windowed), while SQL COUNT(DISTINCT) ignores "
        "NULLs — the oracle adds the NULL group back explicitly."
    ),
)
def s3_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _run_available_now(
        spark, dedup_stream(read_events_stream(spark, sf_dir)),
        partitions=_stream_partitions(sf_dir),
    )


def purchase_click_join(events: DataFrame) -> DataFrame:
    """S5 plan: stream-stream interval join — purchases matched to same-user clicks in
    the preceding 30 minutes. Both sides carry watermarks so join state is bounded
    (clicks older than purchase-watermark − 30 min are evicted)."""
    purchases = (
        events.where(F.col("event_type") == "purchase")
        .select("user_id", F.col("event_id").alias("p_id"), F.col("ts").alias("p_ts"))
        .withWatermark("p_ts", "15 minutes")
    )
    clicks = (
        events.where(F.col("event_type") == "click")
        .select(F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts"))
        .withWatermark("c_ts", "15 minutes")
    )
    return purchases.join(
        clicks,
        (F.col("user_id") == F.col("c_user"))
        & (F.col("c_ts") <= F.col("p_ts"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 30 MINUTES")),
        "inner",
    ).select("user_id", "p_id", "p_ts", "c_ts")


@register(
    "s5_stream_stream_join",
    """
    SELECT p.user_id, p.event_id AS p_id, p.ts AS p_ts, c.ts AS c_ts
    FROM (SELECT user_id, event_id, ts FROM events WHERE event_type = 'purchase') p
    JOIN (SELECT user_id, ts FROM events WHERE event_type = 'click') c
      ON c.user_id = p.user_id
     AND c.ts <= p.ts AND c.ts >= p.ts - INTERVAL 30 MINUTE
    """,
    doc=(
        "Stream-stream interval join (purchases × prior-30-min clicks per user) with "
        "watermarks on both sides bounding the join state; availableNow run matches the "
        "batch interval-join oracle exactly."
    ),
)
def s5_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = read_events_stream(spark, sf_dir)
    return _run_available_now(
        spark, purchase_click_join(events), mode="append",
        partitions=_stream_partitions(sf_dir),
    )
