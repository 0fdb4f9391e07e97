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
import weakref

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

#: Confs the engine depends on that are runtime-settable — applied
#: defensively to ANY session the engine code receives (the build driver
#: hands us its own SparkSession, built without our factory).
RUNTIME_CONFS = {
    # testdata parquet carries TIMESTAMP(NANOS); without this every scan
    # of events/orders/lineitem throws PARQUET_TYPE_ILLEGAL
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # deterministic timestamp semantics for oracle comparison
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
}

#: Applied only when the session has no explicit value yet —
#: ensure_session_confs previously force-set this and silently clobbered
#: a caller's get_spark(shuffle_partitions=N) on the first load_table()
#: (found by review: the tests' shuffle_partitions=8 actually ran at the
#: env default). Values are (engine default, Spark's own unset default):
#: a session whose CURRENT runtime value already differs from Spark's
#: unset default was set by the caller (builder OR spark.conf.set) and is
#: respected either way (ADVICE r5: the SparkContext conf alone misses
#: runtime spark.conf.set calls).
DEFAULT_ONLY_CONFS = {
    # stateful streaming disables AQE, so the raw shuffle partition count
    # matters there; size it to the local core budget
    "spark.sql.shuffle.partitions": (str(DEFAULT_SHUFFLE_PARTITIONS), "200"),
}


#: Keys set in each SparkContext's conf (builder / spark-submit values).
#: That conf is fixed once the context starts, and ``getConf()`` clones
#: all of it over Py4J, so it is read once per context.
_BUILT_KEYS: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def _built_keys(spark: SparkSession) -> frozenset[str]:
    sc = spark.sparkContext
    keys = _BUILT_KEYS.get(sc)
    if keys is None:
        keys = _BUILT_KEYS[sc] = frozenset(k for k, _ in sc.getConf().getAll())
    return keys


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
            explicitly_built = key in _built_keys(spark)
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
        # --- plan quality / scale posture ---
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", 64 * 1024 * 1024)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # --- python interop ---
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # The driver's parquet files carry TIMESTAMP(NANOS) (unsupported by
        # Spark's reader); read them as raw longs — the catalog converts to
        # timestamp_ntz at micro precision, matching DuckDB's truncation.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # --- keep local runs quiet and deterministic ---
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
