"""Structured Streaming slice over the ``events`` table (SURVEY.md §2.8).

The reference only *declares* streaming (``StandardOptions.streaming=True``
in ``notebooks/development.ipynb:114``) without any unbounded source, window
or watermark. Here the surface is real: file-source ``readStream`` ->
event-time windows (tumbling / sliding / session) with watermarks ->
sink. Tests drive micro-batch sequences (``maxFilesPerTrigger=1``) to prove
watermark-driven late-data drops; the registry queries run with
``availableNow`` into a memory sink so their *final* answers are
deterministic and DuckDB-oracle-checkable — the same query text a real
deployment would run against Kafka, swapped source/sink only.
"""

from __future__ import annotations

import contextlib
import itertools
from collections.abc import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampNTZType,
)

# Physical parquet schema of events when ts is TIMESTAMP(NANOS): surfaced
# as a nano-long under spark.sql.legacy.parquet.nanosAsLong — see
# session.py. Newer testdata generations write TIMESTAMP(MICROS) instead,
# which Spark surfaces natively; ``events_stream`` sniffs the footer of one
# file at plan-build time and picks the matching schema + conversion (file
# streams REQUIRE a user-declared schema, so the source cannot infer).
EVENTS_PHYSICAL_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", LongType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ]
)


def _ts_stored_as_timestamp(path: str, glob_filter: str | None) -> bool:
    """True iff the ``ts`` column of one sample parquet file under ``path``
    is a native parquet TIMESTAMP (micros/millis) rather than an int64 of
    nanos. Footer-only read (pyarrow) of a single file — a driver-side
    metadata peek, the same cost class as Spark's own schema inference; if
    no file exists yet (tests stage files after building the plan) fall
    back to the nano-long layout those tests write."""
    import glob as _glob
    import os

    import pyarrow.parquet as papq
    import pyarrow.types as patypes

    try:
        if os.path.isfile(path):
            sample = path
        else:
            files = sorted(
                _glob.glob(os.path.join(path, glob_filter or "*.parquet"))
            )
            if not files:
                return False
            sample = files[0]
        t = papq.read_schema(sample).field("ts").type
        # TIMESTAMP(NANOS) is a pyarrow timestamp type too, but under the
        # session's spark.sql.legacy.parquet.nanosAsLong=true Spark surfaces
        # it as a nano-long — only micros/millis read back as native
        # timestamps, so a ns unit must take the long-conversion path.
        return patypes.is_timestamp(t) and t.unit != "ns"
    except (OSError, KeyError):
        return False

_sink_counter = itertools.count()


def events_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """Unbounded events source: file-stream over parquet. ``path`` may be a
    single file (registry runs) or a directory of micro-batch files
    (late-data tests)."""
    from apache_beam_challange_spark.session import ensure_session_confs

    ensure_session_confs(spark)
    glob_filter = None
    stream_path = path
    if path.endswith(".parquet"):
        # File-stream sources need a directory; narrow it with a glob.
        base, _, fname = path.rpartition("/")
        glob_filter = fname
        stream_path = base
    native_ts = _ts_stored_as_timestamp(path, glob_filter)
    schema = EVENTS_PHYSICAL_SCHEMA
    if native_ts:
        schema = StructType(
            [
                f
                if f.name != "ts"
                else StructField("ts", TimestampNTZType())
                for f in EVENTS_PHYSICAL_SCHEMA
            ]
        )
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    if glob_filter is not None:
        reader = reader.option("pathGlobFilter", glob_filter)
    raw = reader.parquet(stream_path)
    if native_ts:
        return raw.withColumn("ts", F.col("ts").cast("timestamp_ntz"))
    return raw.withColumn(
        "ts", F.timestamp_micros(F.expr("ts div 1000")).cast("timestamp_ntz")
    )


def tumbling_counts(events: DataFrame, window: str = "1 hour") -> DataFrame:
    """Tumbling event-time windows per event_type."""
    return (
        events.groupBy(
            F.window(F.col("ts"), window).alias("w"), F.col("event_type")
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.col("w.start").cast("timestamp_ntz").alias("window_start"),
            "event_type",
            "n",
        )
    )


def sliding_counts(
    events: DataFrame, window: str = "2 hours", slide: str = "1 hour"
) -> DataFrame:
    """Sliding windows: each event lands in window/slide overlapping panes."""
    return (
        events.groupBy(F.window(F.col("ts"), window, slide).alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.col("w.start").cast("timestamp_ntz").alias("window_start"),
            "n",
        )
    )


def session_counts(events: DataFrame, gap: str = "10 minutes") -> DataFrame:
    """Session windows per user: events merge while consecutive gaps stay
    under ``gap``; a gap >= ``gap`` starts a new session."""
    return (
        events.groupBy(
            F.session_window(F.col("ts"), gap).alias("w"), F.col("user_id")
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("user_id"),
            F.col("w.start").cast("timestamp_ntz").alias("session_start"),
            "n_events",
        )
    )


@contextlib.contextmanager
def bounded_stream_partitions(spark: SparkSession) -> Iterator[None]:
    """Set ``spark.sql.shuffle.partitions`` for the streaming queries
    started inside the block, and restore the session's value on exit.

    A streaming query locks its state-store partition count at first
    start, and stateful streaming runs without AQE coalescing. For the
    bounded availableNow runs here the count is one partition per core,
    at most 8: every stateful stage then runs in one task wave, and no
    per-partition state-store setup is paid for a few thousand keys. (A
    long-running deployment sizes it to key cardinality instead.)"""
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    n = min(8, spark.sparkContext.defaultParallelism)
    spark.conf.set("spark.sql.shuffle.partitions", str(n))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def run_to_memory(sdf: DataFrame, output_mode: str = "complete") -> DataFrame:
    """Execute a streaming DataFrame to completion (availableNow trigger)
    into an in-memory sink and return the materialized result table.

    Memory sinks collect to the driver — fine for the correctness gate; a
    production deployment swaps in kafka/delta sinks with identical query
    text. ``availableNow`` processes the bounded backlog then stops, making
    the final table a pure function of the input files."""
    name = f"stream_result_{next(_sink_counter)}"
    spark = sdf.sparkSession
    with bounded_stream_partitions(spark):
        q = (
            sdf.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.table(name)


def click_purchase_interval_join(
    events: DataFrame,
    attribution_window: str = "30 minutes",
    watermark_delay: str = "1 hour",
    how: str = "inner",
) -> DataFrame:
    """Stream-STREAM event-time interval join (click-to-purchase
    attribution): each click joins the purchases of the same user whose
    event time falls in ``[click_ts, click_ts + attribution_window)``.

    Both sides carry watermarks, which is what lets Spark BOUND the join
    state: a buffered click can be evicted once the purchase-side watermark
    passes ``click_ts + attribution_window`` (and vice versa), so state is
    O(events inside the watermark horizon), not O(stream length) — the
    property that makes this run forever on a real cluster. The time-range
    predicate rides the user_id equi-join, so the shuffle is hash(user_id)
    on both streams and the range check is evaluated within the co-located
    state store — never a cartesian. Append output (the only mode
    stream-stream joins support): a pair is emitted exactly once, when both
    sides have arrived.

    ``how="leftOuter"`` adds the abandoned-click rows: a click with NO
    purchase in its window is emitted once, null-padded, when the global
    watermark proves no match can still arrive. Eviction semantics
    (empirically pinned, three SFs): Spark tracks per-input max event time
    in MILLISECONDS, the global watermark is min(per-side max, ms-
    truncated) - delay, and the null row is emitted when
    ``click_ts + attribution_window`` falls STRICTLY before it."""
    # Watermarks only attach to TIMESTAMP (tz-aware) event time; the
    # session is pinned to UTC (session.py:32), so ntz->timestamp is a
    # wall-clock identity here, and the outputs cast back to ntz below.
    clicks = (
        events.filter(F.col("event_type") == "click")
        .select(
            "user_id",
            F.col("event_id").alias("click_id"),
            F.col("ts").cast("timestamp").alias("click_ts"),
        )
        .withWatermark("click_ts", watermark_delay)
    )
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user_id"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").cast("timestamp").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", watermark_delay)
    )
    joined = clicks.join(
        purchases,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (
            F.col("purchase_ts")
            < F.col("click_ts") + F.expr(f"INTERVAL {attribution_window}")
        ),
        how,
    )
    if how == "leftSemi":
        # Semi join keeps only the click side: a click is emitted exactly
        # once, when its FIRST in-window purchase arrives (the engine
        # drops the click's semi state after emission). No eviction
        # boundary shapes the OUTPUT — unmatched clicks are silently
        # evicted, never emitted — so the batch twin is a plain EXISTS.
        return joined.select(
            "user_id",
            "click_id",
            F.col("click_ts").cast("timestamp_ntz").alias("click_ts"),
        )
    # delay in whole seconds: floor(epoch) diff on both engines (cast
    # timestamp->long truncates; DuckDB date_diff counts second boundaries
    # — identical for the positive epochs in this data)
    # coalesce the key across sides: identical to "user_id" for inner and
    # leftOuter (the purchase key is only non-null when matched), and the
    # correct side-agnostic key for fullOuter's purchase-only rows
    return joined.select(
        F.coalesce(F.col("user_id"), F.col("p_user_id")).alias("user_id"),
        "click_id",
        "purchase_id",
        F.col("click_ts").cast("timestamp_ntz").alias("click_ts"),
        F.col("purchase_ts").cast("timestamp_ntz").alias("purchase_ts"),
        (
            F.col("purchase_ts").cast("long") - F.col("click_ts").cast("long")
        ).alias("delay_sec"),
    )


def ohlc_bars(events: DataFrame, window: str = "1 hour") -> DataFrame:
    """Streaming OHLC downsampling bars: per tumbling window, the first
    (open) and last (close) value by (ts, event_id) plus min/max/count —
    the SAME one-pass min_by/max_by aggregation as the batch
    ``ohlc_hourly_value_bars``, run under the streaming engine. min_by /
    max_by / min / max / count are all mergeable, so each micro-batch
    folds into window state without ever re-reading earlier batches."""
    key = F.struct(F.col("ts"), F.col("event_id"))
    return (
        events.groupBy(F.window(F.col("ts"), window).alias("w"))
        .agg(
            F.min_by(F.col("value"), key).alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max_by(F.col("value"), key).alias("close"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select(
            F.col("w.start").cast("timestamp_ntz").alias("window_start"),
            "open",
            "high",
            "low",
            "close",
            "n_events",
        )
    )
