"""Event-time windowed aggregation (net-new Spark capability, SURVEY.md
§2.10: the reference has no stream processing).

Each helper is written once and used in BOTH modes: applied to a batch
DataFrame it is the oracle-checkable query; applied to a
``readStream`` DataFrame (with the watermark) it is the production
streaming query — same Catalyst operators, which is the point of
Structured Streaming. Tests run both and assert equality.

Scale notes: windowed aggregation shuffles on (window, keys); the
watermark bounds state (late data beyond it is dropped, state for
closed windows evicted). Session windows use Spark's native
``session_window`` (gap-merged, stateful in streaming).
"""

from __future__ import annotations

import contextlib

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


# Observability: the most recent replay's micro-batch progress dicts
# (Spark's StreamingQueryProgress JSON — stateOperators carries
# numRowsTotal / memoryUsedBytes per stateful operator). Captured by
# replay_available_now for the scale measurements in docs/SCALE.md;
# diagnostics only, never part of a query result.
LAST_PROGRESS: list[dict] = []


@contextlib.contextmanager
def bounded_shuffle(spark, n: int = 8):
    """Temporarily cap ``spark.sql.shuffle.partitions`` for a bounded
    streaming replay, restoring the caller's value afterwards. A
    stateful micro-batch materializes one state-store partition per
    shuffle partition PER TRIGGER; under a driver session left at the
    200-partition default, a 5-file replay writes 1000 near-empty state
    files for a few thousand rows. The cap changes only partition
    count, never results — the verification matrix's local[2]/
    shuffle=2 axis pins partition-count independence for every entry."""
    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key, None)
    spark.conf.set(key, str(n))
    try:
        yield
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)


def replay_available_now(spark, batch_df: DataFrame, build_query, *,
                         prefix: str, n_files: int = 4, append_df=None,
                         timeout: int = 300) -> DataFrame:
    """Shared ``availableNow`` replay scaffold for the driver-entry
    streaming queries: write ``batch_df`` as ``n_files`` parquet files
    (the repartition scatters event-time order, so micro-batches are
    genuinely out of order) plus an optional one-file ``append_df``
    (watermark-flush sentinels), then run
    ``build_query(make_stream)`` — the callback calls ``make_stream()``
    once per stream side it needs (twice for a stream-stream join) —
    one-file-per-micro-batch into a uniquely-named memory sink under
    ``bounded_shuffle``. Fails LOUDLY on timeout (a silent partial
    memory table would hash into a driver correctness row), and the
    on-disk corpus copy + checkpoint are removed on every exit path
    (the memory sink holds rows in the session, not on disk)."""
    import glob
    import os
    import tempfile
    import uuid

    from .. import storage

    tag = uuid.uuid4().hex[:12]
    root = tempfile.mkdtemp(prefix=f"{prefix}_{tag}_")
    table = f"{prefix}_drv_{tag}"
    try:
        src = f"{root}/src"
        batch_df.repartition(n_files).write.parquet(src)
        if append_df is not None:
            data_files = set(glob.glob(f"{src}/*.parquet"))
            append_df.coalesce(1).write.mode("append").parquet(src)
            # FileStreamSource orders files by mtime at ms granularity;
            # the sentinel must sort strictly LAST or its micro-batch can
            # advance the watermark before some data files arrive and
            # silently drop them as late. Pin the ordering explicitly
            # rather than relying on write-time mtimes not tying.
            base = max((os.stat(f).st_mtime for f in data_files),
                       default=os.path.getmtime(src))
            sentinel_mtime = base + 2.0
            for f in set(glob.glob(f"{src}/*.parquet")) - data_files:
                os.utime(f, (sentinel_mtime, sentinel_mtime))

        def make_stream() -> DataFrame:
            return (
                spark.readStream.schema(batch_df.schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(src)
            )

        with bounded_shuffle(spark):  # cap per-trigger state partitions
            q = (
                build_query(make_stream)
                .writeStream.format("memory")
                .queryName(table)
                .outputMode("append")
                .option("checkpointLocation", f"{root}/ckpt")
                .trigger(availableNow=True)
                .start()
            )
            if not q.awaitTermination(timeout):
                q.stop()
                raise TimeoutError(
                    f"{table}: availableNow replay exceeded {timeout}s"
                )
            global LAST_PROGRESS
            LAST_PROGRESS = [p for p in q.recentProgress if p is not None]
    finally:
        storage.remove_tree(root, ignore_errors=True)
    return spark.table(table)


def tumbling_counts(events: DataFrame, *, width: str = "1 hour",
                    ts_col: str = "ts", watermark: str | None = None) -> DataFrame:
    """Tumbling event-time windows: count + exact value sum per
    (window, event_type). Sum is exact integer micro-units (value has
    ≤6 observed decimals) so the distributed/streaming result is
    bit-reproducible — see decimal_exact_revenue for the rationale."""
    df = events
    if watermark is not None:
        df = df.withWatermark(ts_col, watermark)
    micros = F.round(F.col("value") * 1_000_000).cast("long")
    return (
        df.groupBy(F.window(F.col(ts_col), width).alias("w"), F.col("event_type"))
        .agg(
            F.count("*").alias("n_events"),
            (F.sum(micros) / 1_000_000.0).alias("sum_value"),
        )
        .select(
            F.unix_millis(F.col("w.start")).alias("window_start_ms"),
            "event_type", "n_events", "sum_value",
        )
    )


def sliding_user_activity(events: DataFrame, *, width: str = "2 hours",
                          slide: str = "1 hour", ts_col: str = "ts",
                          watermark: str | None = None) -> DataFrame:
    """Sliding windows (each event lands in width/slide windows):
    distinct active users per window."""
    df = events
    if watermark is not None:
        df = df.withWatermark(ts_col, watermark)
    return (
        df.groupBy(F.window(F.col(ts_col), width, slide).alias("w"))
        .agg(F.countDistinct("user_id").alias("n_users"))
        .select(F.unix_millis(F.col("w.start")).alias("window_start_ms"), "n_users")
    )


def session_windows(events: DataFrame, *, gap: str = "30 minutes",
                    ts_col: str = "ts", watermark: str | None = None) -> DataFrame:
    """Per-user gap-based sessionization (``session_window``): events
    closer than ``gap`` merge into one session."""
    df = events
    if watermark is not None:
        df = df.withWatermark(ts_col, watermark)
    return (
        df.groupBy(F.session_window(F.col(ts_col), gap).alias("w"), F.col("user_id"))
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.unix_millis(F.col("w.start")).alias("session_start_ms"),
            F.unix_millis(F.col("w.end")).alias("session_end_ms"),
            "n_events",
        )
    )


def dedup_events(events: DataFrame, *, keys: tuple[str, ...] = ("event_id",),
                 ts_col: str = "ts", watermark: str | None = None) -> DataFrame:
    """Exactly-once event dedup. Batch: plain ``dropDuplicates`` (a
    hash aggregate on the key). Streaming: ``dropDuplicatesWithinWatermark``
    — state holds one entry per key and the watermark bounds how long
    a key is remembered, which is the knob that keeps state finite on
    an unbounded stream (the at-least-once → exactly-once bridge for
    the Q2 ingest path)."""
    if watermark is not None:
        return events.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
            list(keys)
        )
    return events.dropDuplicates(list(keys))


def click_after_view_pairs(views: DataFrame, clicks: DataFrame, *,
                           within: str = "1 hour",
                           watermark: str | None = None) -> DataFrame:
    """Stream-stream (or batch-batch) interval join: for each view,
    the same user's clicks within ``within`` afterwards. The join
    condition carries an explicit event-time bound, which is what
    lets Structured Streaming evict join state (without it a
    stream-stream inner join would buffer forever). Batch mode is the
    same bucketless theta join Catalyst plans from the identical
    expression — one function, both modes."""
    v = views.select(
        F.col("user_id").alias("v_user"),
        F.col("event_id").alias("view_id"),
        F.col("ts").alias("v_ts"),
    )
    c = clicks.select(
        F.col("user_id").alias("c_user"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("c_ts"),
    )
    if watermark is not None:
        v = v.withWatermark("v_ts", watermark)
        c = c.withWatermark("c_ts", watermark)
    return (
        v.join(
            c,
            F.expr(
                f"v_user = c_user AND c_ts > v_ts"
                f" AND c_ts <= v_ts + INTERVAL {within}"
            ),
        )
        .select(
            F.col("v_user").alias("user_id"),
            "view_id",
            "click_id",
            F.unix_millis("v_ts").alias("view_ms"),
            F.unix_millis("c_ts").alias("click_ms"),
        )
    )


def stream_events_from_parquet(spark, sf_dir: str, *, max_files_per_trigger: int = 1) -> DataFrame:
    """Re-read the events table as a file-source stream (the batch
    parquet replayed incrementally) — the ingest-as-stream upgrade of
    Q2. The TIMESTAMP(NANOS) handling mirrors ``sources/tables.py``."""
    import os

    from ..sources.tables import load_table

    load_table(spark, sf_dir, "events")  # sets nanosAsLong when needed
    raw_schema = spark.read.parquet(os.path.join(sf_dir, "events.parquet")).schema
    # file streams need a directory source; glob-filter to the one table
    stream = (
        spark.readStream.schema(raw_schema)
        .option("pathGlobFilter", "events.parquet")
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(sf_dir)
    )
    ts_type = dict(stream.dtypes).get("ts")
    if ts_type == "bigint":
        stream = stream.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    elif ts_type == "timestamp_ntz":  # naive micros corpus: watermarks need LTZ
        stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    return stream
