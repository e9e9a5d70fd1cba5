"""SparkSession factory with defaults tuned for both local testing and
100 TB-scale posture.

The reference (``pipelines/total_distance.py:68-80``) configures a Dataflow
runner per-pipeline; our equivalent is one session factory whose settings all
target plan quality rather than hand-scheduling:

- AQE on (runtime re-plan: partition coalescing, skew-join splitting,
  broadcast demotion/promotion) — the Spark answer to Dataflow's dynamic
  work rebalancing.
- Arrow enabled so any unavoidable pandas UDF path is vectorized.
- ``spark.sql.shuffle.partitions`` sized by env for local runs; on a real
  cluster AQE coalesces from a high initial number, so the same code scales.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

#: Confs the engine depends on that are runtime-settable — set by
#: get_spark's builder and applied defensively to ANY session the engine
#: code receives (the build driver hands us its own SparkSession, built
#: without our factory).
RUNTIME_CONFS = {
    # testdata parquet carries TIMESTAMP(NANOS); without this every scan
    # of events/orders/lineitem throws PARQUET_TYPE_ILLEGAL. Read as raw
    # longs, the catalog converts to timestamp_ntz at micro precision,
    # matching DuckDB's truncation.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # deterministic timestamp semantics for oracle comparison
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
}

#: Applied only when the session has no explicit value yet, so a caller's
#: get_spark(shuffle_partitions=N) is never clobbered by a later
#: load_table(). Values are (engine default, Spark's own unset default): a
#: session whose CURRENT runtime value already differs from Spark's unset
#: default was set by the caller (builder OR spark.conf.set) and is
#: respected either way, since the SparkContext conf alone misses runtime
#: spark.conf.set calls.
DEFAULT_ONLY_CONFS = {
    # stateful streaming disables AQE, so the raw shuffle partition count
    # matters there; size it to the local core budget
    "spark.sql.shuffle.partitions": (str(DEFAULT_SHUFFLE_PARTITIONS), "200"),
}


def ensure_session_confs(spark: SparkSession) -> SparkSession:
    """Apply the engine's required runtime confs to an externally-created
    session. Best-effort: confs that a given deployment locks down are
    skipped rather than fatal. Parallelism-tuning confs are defaults, not
    requirements — an explicit caller choice is never overridden."""
    for key, value in RUNTIME_CONFS.items():
        try:
            spark.conf.set(key, value)
        except Exception:
            pass
    for key, (value, spark_default) in DEFAULT_ONLY_CONFS.items():
        try:
            # "caller chose N" comes in two flavors, both respected:
            # builder/spark-submit values live in the SparkContext conf;
            # runtime spark.conf.set(key, N) calls do NOT — they only show
            # as a current value differing from Spark's unset default. A
            # caller who deliberately set the value TO the unset default
            # is indistinguishable from nobody-chose and gets the engine
            # default; route such overrides through the builder.
            # one-key lookup on the live context conf: getConf() would
            # copy every entry over py4j, and a started context's conf
            # does not change
            explicitly_built = (
                spark.sparkContext._conf.get(key, None) is not None
            )
            runtime_overridden = spark.conf.get(key, None) != spark_default
            if not explicitly_built and not runtime_overridden:
                spark.conf.set(key, value)
        except Exception:
            pass
    return spark


def get_spark(
    app_name: str = "apache_beam_challange_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's tuned defaults."""
    # TWS needs google.protobuf in driver AND workers; the shim must land
    # on PYTHONPATH before the JVM starts (no-op where protobuf exists).
    from apache_beam_challange_spark.streaming.tws_env import ensure_protobuf

    ensure_protobuf()
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config(map=RUNTIME_CONFS)
        # --- plan quality / scale posture ---
        .config("spark.sql.autoBroadcastJoinThreshold", 64 * 1024 * 1024)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # --- python interop ---
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # --- keep local runs quiet ---
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
