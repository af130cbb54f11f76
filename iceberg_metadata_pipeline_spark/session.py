"""SparkSession factory with the reference deployment's tuning applied.

The reference tunes a Spark 3.4.1 Thrift server via entrypoint-spark.sh
(AQE on with 64 MB advisory coalescing and skew-join splitting, 64 MB scan
splits, 64 MB broadcast threshold, vectorized Parquet with filter pushdown,
ObjectHashAggregate disabled, UTC-pinned sessions). We replicate that conf
set (SURVEY.md §4 / BASELINE.md), scaled to the local test envelope and
overridable by env vars:

- ``SPARK_GRAFT_CPUS``   — local[] thread count (default: all cores)
- ``SPARK_GRAFT_SHUFFLE_PARTITIONS`` — default: thread count
- ``SPARK_GRAFT_DRIVER_MEM`` — default 48g (local mode = driver-only JVM)

Python workers import this package from the directory that holds it
(``spark.executorEnv.PYTHONPATH``, which Spark merges with the worker's
inherited ``PYTHONPATH``), so a DataSource or UDF task runs from any
working directory.

At 1000-executor / 100 TB scale the same builder is used with ``master``
pointed at the cluster manager; the scale-relevant confs (AQE, 64-128 MB
partition targets, broadcast threshold, skew-join) are already what a large
cluster wants — only shuffle partitions need raising (rule of thumb:
total-input-bytes / 128 MB).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _env_int(name: str, default: int) -> int:
    try:
        return int(os.environ.get(name, "") or default)
    except ValueError:
        return default


#: the directory holding this package, for the Python workers' path
_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: target bytes per shuffle partition at scale — the SCALE.md rule
#: "shuffle partitions ≈ total-input-bytes / 128 MB" as executable code.
SHUFFLE_PARTITION_TARGET_BYTES = 128 * 1024 * 1024


def shuffle_partitions_for(total_input_bytes: int, parallelism: int) -> int:
    """Shuffle-partition count for a job reading ``total_input_bytes``.

    The 1000×-scale rule from SCALE.md: one shuffle partition per
    ~128 MB of input, floored at the cluster's parallelism so small
    inputs still use every core, and never below 1. At 100 TB this
    yields ~800k partitions — above Spark's practical per-stage limit,
    which is exactly when AQE's coalescing (enabled in get_spark())
    takes over: oversize the static count, let AQE shrink at runtime.
    """
    if total_input_bytes <= 0:
        return max(1, parallelism)
    need = -(-total_input_bytes // SHUFFLE_PARTITION_TARGET_BYTES)  # ceil
    return max(1, parallelism, int(need))


def get_spark(
    app_name: str = "iceberg-metadata-pipeline-spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the reference's tuning profile.

    Conf lineage (reference file:line cited per row, SURVEY.md §4):
      adaptive.enabled / coalescePartitions / skewJoin  — entrypoint-spark.sh:116-121
      files.maxPartitionBytes=64m                       — entrypoint-spark.sh:32,124
      autoBroadcastJoinThreshold=64m, 600s timeout      — entrypoint-spark.sh:38,130-131
      parquet vectorized reader + filter pushdown       — entrypoint-spark.sh:126-127
      useObjectHashAggregate=false                      — entrypoint-spark.sh:113
      parallelPartitionDiscovery.parallelism=100        — entrypoint-spark.sh:39,125
      network.timeout=600s, heartbeat=60s               — entrypoint-spark.sh:36-37,132-133
    """
    cpus = _env_int("SPARK_GRAFT_CPUS", os.cpu_count() or 2)
    # SPARK_GRAFT_TARGET_INPUT_BYTES: size the shuffle for a known input
    # volume (the SCALE.md input/128MB rule); explicit
    # SPARK_GRAFT_SHUFFLE_PARTITIONS still wins.
    target_bytes = _env_int("SPARK_GRAFT_TARGET_INPUT_BYTES", 0)
    shuffle = _env_int(
        "SPARK_GRAFT_SHUFFLE_PARTITIONS",
        shuffle_partitions_for(target_bytes, cpus) if target_bytes else cpus,
    )
    driver_mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g")
    if master is None:
        master = f"local[{cpus}]"

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64m")
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "16m")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.files.maxPartitionBytes", "67108864")
        .config("spark.sql.autoBroadcastJoinThreshold", "67108864")
        .config("spark.sql.broadcastTimeout", "600")
        .config("spark.sql.parquet.enableVectorizedReader", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # field-id parquet resolution is the SESSION posture (Delta
        # column-mapping 'id' mode reads/writes): inert unless the
        # requested schema carries parquet.field.id metadata, and
        # ignoreMissing gives add-column null semantics on id reads
        .config("spark.sql.parquet.fieldId.read.enabled", "true")
        .config("spark.sql.parquet.fieldId.read.ignoreMissing", "true")
        .config("spark.sql.parquet.fieldId.write.enabled", "true")
        # Python DataSource API (ingest/pydatasource.py) declares
        # pushFilters(); the capability is conf-gated in Spark 4.1
        .config("spark.sql.python.filterPushdown.enabled", "true")
        .config("spark.sql.execution.useObjectHashAggregate", "false")
        .config("spark.sql.sources.parallelPartitionDiscovery.parallelism", "100")
        .config("spark.network.timeout", "600s")
        .config("spark.executor.heartbeatInterval", "60s")
        # FAIR scheduling across concurrent clients (entrypoint-spark.sh:136)
        .config("spark.scheduler.mode", "FAIR")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", driver_mem)
        # fixture events.ts is TIMESTAMP(NANOS) parquet, which Spark refuses
        # by default; read as long and normalize in load_tables()
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.extraJavaOptions", "-XX:+UseG1GC")
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_ROOT)
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


_CURRENT_VIEW_SF: dict = {}
_TABLE_CACHE: dict[tuple[int, str], dict] = {}

# Runtime-settable tuning applied to sessions that did not come from
# get_spark() (the driver's correctness harness passes its own session,
# typically with the 200-partition default — a 200-task shuffle per stage
# at sf0.01 is pure scheduling overhead). Every key here is a documented
# runtime conf; each set is individually best-effort.
_RUNTIME_TUNING = {
    "spark.sql.legacy.parquet.nanosAsLong": "true",  # events is TIMESTAMP(NANOS)
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "64m",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.files.maxPartitionBytes": "67108864",
    "spark.sql.autoBroadcastJoinThreshold": "67108864",
    "spark.sql.parquet.filterPushdown": "true",
    "spark.sql.execution.useObjectHashAggregate": "false",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
}


def _tune_session(spark: SparkSession) -> None:
    for k, v in _RUNTIME_TUNING.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # locked-down conf: get_spark() sessions already set it
    try:
        # Only lower an untouched 200-partition default; respect any
        # explicit choice (ours or the driver's).
        if spark.conf.get("spark.sql.shuffle.partitions") == "200":
            spark.conf.set("spark.sql.shuffle.partitions", str(os.cpu_count() or 8))
    except Exception:
        pass


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, "object"]:
    """Register every fixture parquet under ``sf_dir`` as a temp view.

    Returns {name: DataFrame}. Names match TESTDATA.md: region nation
    customer supplier part orders lineitem events documents embeddings.

    Registration is cached per (session, sf_dir): the correctness gate
    calls every query through here, and re-inferring 10 parquet schemas
    per query is the dominant fixed overhead of the whole gate.
    """
    import glob

    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType

    key = (id(spark), sf_dir)
    cached = _TABLE_CACHE.get(key)
    if cached is not None:
        # The DataFrame cache is per (session, sf_dir) but the temp-VIEW
        # namespace is session-GLOBAL: if another sf_dir registered the
        # views since, a bare cache hit would leave `spark.sql` queries
        # reading the WRONG scale while the returned DataFrames read the
        # right one (seen as cross-test contamination in the full pytest
        # run). Re-point the views from the cached DataFrames — no
        # schema re-inference, just view registration.
        if _CURRENT_VIEW_SF.get(id(spark)) != sf_dir:
            for name, df in cached.items():
                df.createOrReplaceTempView(name)
            _CURRENT_VIEW_SF[id(spark)] = sf_dir
        return cached

    _tune_session(spark)

    out = {}
    for path in sorted(glob.glob(os.path.join(sf_dir, "*.parquet"))):
        name = os.path.splitext(os.path.basename(path))[0]
        df = spark.read.parquet(path)
        # nanosAsLong surfaces TIMESTAMP(NANOS) columns as epoch-nanos longs;
        # restore timestamp semantics (fixture sub-µs components are zero)
        if name == "events" and isinstance(df.schema["ts"].dataType, LongType):
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        df.createOrReplaceTempView(name)
        out[name] = df
    _TABLE_CACHE[key] = out
    _CURRENT_VIEW_SF[id(spark)] = sf_dir
    return out
