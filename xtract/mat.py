"""Materialized intermediates at deterministic parquet/text paths.

A query that needs an on-disk input the sf tables do not hold (a JSONL
dump, a zone-ordered layout, an evolved-schema dataset) builds it once
under ``ROOT/<sf>/<name>`` and reads it back, so the query's result
does not depend on what an earlier run left there
(queries.jsonl_ingest_stats, zonemap_audit, schema_evolution_read).

Freshness: files are rewritten on first use in each Python process
(never trusted across processes), so a stale artifact from an older
engine build can never be read back.
"""
from __future__ import annotations

import os
from typing import Callable

from pyspark.sql import DataFrame, SparkSession

ROOT = "/tmp/xtract_mat"

_written: set[str] = set()


def path(sf_dir: str, name: str) -> str:
    sf = os.path.basename(os.path.normpath(sf_dir))
    return f"{ROOT}/{sf}/{name}"


def glob(sf_dir: str, name: str) -> str:
    """The read_parquet() glob over this target's files."""
    return f"{path(sf_dir, name)}/*.parquet"


def materialize(
    spark: SparkSession, sf_dir: str, name: str, build: Callable[[], DataFrame]
) -> DataFrame:
    """Write ``build()`` to the target path once per process (overwrite
    — never reuse bytes from a previous run) and return the read-back
    DataFrame."""
    p = path(sf_dir, name)
    if p not in _written:
        build().write.mode("overwrite").parquet(p)
        _written.add(p)
    return spark.read.parquet(p)


def materialize_partitioned(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    partition_cols: list[str],
    build: Callable[[], DataFrame],
) -> DataFrame:
    """Same freshness/cross-scale contract as :func:`materialize`, but
    the write is hive-partitioned by ``partition_cols`` — used when the
    physical LAYOUT is itself the artifact under test (partition-dir
    pruning is Spark's file-skipping mechanism, so a zone-map audit
    must run over a genuinely partitioned dataset). The DuckDB oracle
    reads it with ``read_parquet(glob, hive_partitioning=1)``."""
    p = path(sf_dir, name)
    if p not in _written:
        build().write.mode("overwrite").partitionBy(*partition_cols).parquet(p)
        _written.add(p)
    return spark.read.parquet(p)


def materialize_text(
    spark: SparkSession, sf_dir: str, name: str, build: Callable[[], DataFrame]
) -> str:
    """Same freshness/cross-scale contract as :func:`materialize`, but
    the target is a TEXT directory (one record per line — the JSONL
    ingestion fixture). Returns the path; callers choose their own
    reader (``spark.read.json`` with a schema, DuckDB ``read_csv``)
    because the point of the fixture is exercising readers."""
    p = path(sf_dir, name)
    if p not in _written:
        build().write.mode("overwrite").text(p)
        _written.add(p)
    return p


def materialize_multi(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    parts: dict[str, Callable[[], DataFrame]],
) -> str:
    """Same freshness/cross-scale contract as :func:`materialize`, but
    writes each ``parts[sub]()`` under ``<path>/<sub>/`` with its OWN
    schema — the schema-EVOLUTION fixture (a real lakehouse dataset is
    many write batches, and later batches add columns). Returns the
    root path; callers pick their schema-merging reader (Spark
    ``mergeSchema``, DuckDB ``union_by_name``)."""
    p = path(sf_dir, name)
    if p not in _written:
        for sub, build in parts.items():
            build().write.mode("overwrite").parquet(f"{p}/{sub}")
        _written.add(p)
    return p
