"""SparkSession factory with the engine's required configuration.

The reference does all time math in UTC (/root/reference/internal/domain/
transform.go:108-111,313), so the session timezone is pinned to UTC —
required for HHMM expansion, hourly time buckets, and DuckDB-oracle parity.

Scale posture: AQE on (runtime re-plan, skew-join splitting, partition
coalescing), shuffle partitions sized for the local harness but overridable
via env for cluster deploys.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32")
DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")
#: local-mode JVM heap: Spark's 1g default starves 32 executor threads
#: (observed: GCLocker retry aborts on 5× scale probes); applies only at
#: session creation, so set it before the first get_spark() of a process.
DEFAULT_DRIVER_MEM = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g")

#: Streaming checkpoint manager (offset, commit and file-source logs):
#: check-then-rename writes like the default FileContext manager, which on a
#: local FS without the native Hadoop library forks a `readlink` per path
#: resolution, ~24 OS processes per micro-batch (docs/LIMITS.md).
CHECKPOINT_FILE_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)

#: DataFrames pinned by operators whose correctness depends on a single
#: materialization (global_rank, curation_funnel). The pin must outlive the
#: caller's terminal action, so operators cannot unpersist internally —
#: long-lived harnesses (bench loops, the 143-query registry sweep) call
#: release_pinned() between actions to keep executor memory flat.
_PINNED: list = []


def pin(df):
    """persist() a DataFrame and register it for release_pinned()."""
    df.persist()
    _PINNED.append(df)
    return df


def release_pinned() -> int:
    """Unpersist every pin()-registered DataFrame; returns how many."""
    n = len(_PINNED)
    for df in _PINNED:
        try:
            df.unpersist()
        except Exception:  # session already stopped — nothing to free
            pass
    _PINNED.clear()
    return n


def get_spark(
    app_name: str = "storm_data_etl_spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession configured for this engine.

    UTC session timezone, FileSystem-based streaming checkpoint manager,
    AQE enabled, Arrow enabled for the few Pandas-UDF
    paths, shuffle parallelism sized to cores (not the 200 default, which
    over-parallelizes local runs and under-parallelizes 100 TB ones — on a
    real cluster set SPARK_GRAFT_SHUFFLE_PARTITIONS ≈ 2-3× total cores).

    ``extra_conf``: creation-time settings a harness needs beyond the
    engine defaults (e.g. spark.scheduler.mode=FAIR for the
    parallel-shard measurement). Applies only when this call CREATES the
    session — like driver memory, it cannot change an existing one.
    """
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.driver.memory", DEFAULT_DRIVER_MEM)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.streaming.checkpointFileManagerClass", CHECKPOINT_FILE_MANAGER)
        .config("spark.sql.shuffle.partitions", DEFAULT_SHUFFLE_PARTITIONS)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Python DataSource filter pushdown (sources/stormgen.py pushFilters)
        .config("spark.sql.python.filterPushdown.enabled", "true")
        # The driver's events.parquet uses TIMESTAMP(NANOS), which the
        # vectorized reader rejects; read as long (ns since epoch) — exact,
        # order-preserving. tables.t() re-derives timestamps where needed.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Bucketed tables (sources/parquet.write_bucketed) land here; keep
        # the warehouse out of the repo tree.
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/spark-graft-warehouse"),
        )
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    if master is not None:
        builder = builder.master(master)
    elif not os.environ.get("MASTER"):
        builder = builder.master(f"local[{DEFAULT_CPUS}]")
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
