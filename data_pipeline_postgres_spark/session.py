"""SparkSession factory with scale-aware defaults.

The reference pipeline runs single-threaded pandas under Airflow's
LocalExecutor (reference: docker-compose.yml:8,
mnt/dags/02datalake_to_datawarehouse.py:62-74). Here the execution model
is Spark: lazy fused plans, whole-stage codegen, shuffle-partitioned
parallelism, AQE runtime re-planning.

Defaults are chosen for a single-host ``local[N]`` session (N from
``SPARK_GRAFT_CPUS``; the test suite pins ``local[8]``) but written so
the same builder works on a 1000-executor cluster: AQE owns runtime
partition coalescing and skew-join splitting, so a static
``spark.sql.shuffle.partitions`` only sets the *initial* parallelism;
dynamic partition overwrite gives idempotent per-partition re-runs
(the reference's ``replace=True`` semantics, SURVEY.md §2.9).

Local mode swaps the streaming checkpoint manager for the
FileSystem-based one. Spark's default FileContext manager renames
through Hadoop's ``AbstractFileSystem``, which on ``file:`` execs a
``readlink`` helper process on every rename, and Hadoop without the
native libhadoop execs ``chmod`` on every file create. Every
micro-batch writes an offsets file, a commit file and one state-store
delta per shuffle partition, so those process launches dominated a
small drain's wall time. The FileSystem-based manager renames
in-process (the ``chmod`` on create remains). Cluster masters keep
Spark's default manager for their hdfs/s3a checkpoints.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

LOCAL_CHECKPOINT_FILE_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)


def get_spark(
    app_name: str = "data_pipeline_postgres_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or get) a SparkSession with engine defaults.

    - AQE on: runtime coalescing, skew-join handling, dynamic join
      strategy switch — the knobs that make one plan survive 100× scale.
    - UTC session timezone: deterministic timestamp semantics vs the
      DuckDB oracle.
    - Arrow on: fast pandas interchange for the Pandas-UDF slow path.
    - Dynamic partition overwrite: idempotent incremental re-runs
      (the reference's ``replace=True`` on every S3 write).
    - ``local[...]`` masters: in-process streaming checkpoint renames
      (see the module docstring).
    """
    master = master or f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]"
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    if master.startswith("local"):
        builder = builder.config(
            "spark.sql.streaming.checkpointFileManagerClass",
            LOCAL_CHECKPOINT_FILE_MANAGER,
        )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
