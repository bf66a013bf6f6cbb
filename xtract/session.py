"""SparkSession factory with the engine's scale posture baked in.

Single place for the configs the north rule calls out explicitly:
AQE + skew-join handling, Arrow-backed pandas UDFs, explicit shuffle
partitioning (SURVEY.md §4).
"""
from __future__ import annotations

import os

from pyspark.sql import SparkSession

from .catalog import DEFAULT_BUCKETS


def build(
    app: str = "xtract",
    master: str | None = None,
    cores: int = 32,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    b = (
        SparkSession.builder.appName(app)
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # byte cap matters more than the record cap for transcript
        # payloads: a 10k-record batch of 1 MB turns would be 10 GB
        # without it — 64 MB bounds per-batch worker memory regardless
        # of row width
        .config("spark.sql.execution.arrow.maxBytesPerBatch", str(64 * 1024 * 1024))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cores))
        .config("spark.sql.session.timeZone", "UTC")
        # list bucket dirs on the driver: a parallel listing is one job per read
        .config(
            "spark.sql.sources.parallelPartitionDiscovery.threshold",
            str(DEFAULT_BUCKETS),
        )
        # managed-table warehouse off the repo tree (btable: refs,
        # catalog.py); in-memory catalog — metadata is per-session,
        # data files persist under the warehouse dir
        .config("spark.sql.warehouse.dir", "/tmp/xtract_warehouse")
        .config("spark.driver.memory", "8g")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
    )
    # spark-submit starts the Python driver with PYSPARK_GATEWAY_PORT
    # set (pyspark attaches to the launcher's JVM by it); builder
    # options would override the launcher's --master, so leave it be
    if master:
        b = b.master(master)
    elif not (
        SparkSession.getActiveSession() or "PYSPARK_GATEWAY_PORT" in os.environ
    ):
        b = b.master(f"local[{cores}]")
    return b.getOrCreate()
