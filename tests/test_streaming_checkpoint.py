"""Streaming checkpoint cost on a local session: the FileSystem-based
checkpoint manager (in-process renames, no ``readlink`` helper per
rename) and state stores sized to the session's cores."""

from __future__ import annotations

import os

from data_pipeline_postgres_spark.session import LOCAL_CHECKPOINT_FILE_MANAGER
from data_pipeline_postgres_spark.streaming import jobs

from .conftest import SF_SMOKE


def test_local_session_uses_filesystem_checkpoint_manager(spark):
    assert spark.sparkContext.master.startswith("local[")
    key = "spark.sql.streaming.checkpointFileManagerClass"
    assert spark.conf.get(key) == LOCAL_CHECKPOINT_FILE_MANAGER


def test_shuffle_partitions_capped_at_cores(spark):
    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    cores = spark.sparkContext.defaultParallelism
    with jobs._shuffle_partitions(spark, cores * 8):
        assert spark.conf.get(key) == str(cores)
    with jobs._shuffle_partitions(spark, 1):
        assert spark.conf.get(key) == "1"
    assert spark.conf.get(key) == before


def test_tumbling_drain_state_sized_to_cores_without_temp_files(spark):
    rows = jobs.tumbling_daily(spark, SF_SMOKE).collect()
    assert rows
    ckpt = os.path.join(jobs._SCRATCH, "tumbling_ckpt")
    state = os.path.join(ckpt, "state", "0")
    parts = [d for d in os.listdir(state) if d.isdigit()]
    assert len(parts) == min(8, spark.sparkContext.defaultParallelism)
    tmp = [f for _, _, fs in os.walk(ckpt) for f in fs if f.endswith(".tmp")]
    assert tmp == []
