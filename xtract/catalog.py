"""Table IO abstraction: Iceberg when a catalog is present, parquet
otherwise.

The north rule targets "Iceberg tables of multi-turn transcripts" at
10^12-turn scale; this sandbox ships no Iceberg runtime jar, so every
read/write in the engine goes through this module instead of hardcoding
either format:

- ``ref`` syntax: ``table:<catalog.db.name>`` → catalog table
  (Iceberg on a real deployment); ``btable:<name>`` → Spark-managed
  BUCKETED parquet table (works in this container — no extra jar);
  anything else → parquet path.
- A ``table:`` ref needs the Iceberg runtime and catalog confs from
  the launcher (``spark-submit --packages org.apache.iceberg:…
  --conf spark.sql.catalog.<name>=…``; README, Running); without
  them the write fails, and parquet paths are the fallback.
- Writes to table refs create bucketed tables (``bucket(N, conv_id)``)
  — the partition strategy the rest of the engine assumes: per-conv
  grouping is a local (bucket-pruned) operation, and the sidecar
  lineage table commits atomically per partition (generalizing the
  reference's md5-keyed pickle cache, question_merger.py:568-609).
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

DEFAULT_BUCKETS = 1024  # conv_id buckets for span/transcript tables


def is_table_ref(ref: str) -> bool:
    return ref.startswith("table:")


def is_btable_ref(ref: str) -> bool:
    return ref.startswith("btable:")


def table_name(ref: str) -> str:
    for prefix in ("table:", "btable:"):
        if ref.startswith(prefix):
            name = ref[len(prefix):]
            if not name:
                raise ValueError("empty table name")
            return name
    raise ValueError(f"not a table ref: {ref!r}")


def read_ref(spark: SparkSession, ref: str) -> DataFrame:
    """``table:``/``btable:`` ref → catalog table; else parquet path."""
    if is_table_ref(ref) or is_btable_ref(ref):
        return spark.read.table(table_name(ref))
    return spark.read.parquet(ref)


def write_ref(df: DataFrame, ref: str, bucket_col: str | None = "conv_id") -> None:
    """Overwrite ``ref``: a ``table:`` ref → Iceberg ``writeTo``
    (createOrReplace with conv_id bucketing); a ``btable:`` ref → a
    bucketed managed table; else a parquet path.

    Bucketing by conv_id is the scale contract: spans and transcripts
    co-partition, so per-conversation joins and ordered-window stages
    read co-located buckets instead of shuffling 10^12 rows. The
    bucket count is ``DEFAULT_BUCKETS`` at the time of the call.
    """
    if is_btable_ref(ref):
        # Spark-managed bucketed parquet table: the bucketing metadata
        # makes conv_id-keyed joins/aggregations over the table
        # exchange-free on read (asserted in tests/test_catalog.py) —
        # the in-container-verifiable stand-in for the Iceberg
        # bucket(N, conv_id) layout the table: arm declares
        name = table_name(ref)
        spark = df.sparkSession
        if not spark.catalog.tableExists(name):
            # in-memory catalog: a previous process's table FILES
            # survive under the warehouse while its metadata does not;
            # saveAsTable would refuse the orphaned location. Resolve
            # the location the way Spark lays it out (default db at
            # the warehouse root, qualified db at <db>.db/<tbl>) and
            # refuse ref-derived names that are not plain identifiers
            # before deleting anything.
            import os
            import re
            import shutil
            from urllib.parse import urlparse

            parts = name.lower().split(".")
            if len(parts) > 2 or not all(
                re.fullmatch(r"[a-z0-9_]+", p) for p in parts
            ):
                raise ValueError(f"unsafe btable name: {name!r}")
            wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
            loc = (
                os.path.join(wh, parts[-1])
                if len(parts) == 1 or parts[0] == "default"
                else os.path.join(wh, f"{parts[0]}.db", parts[1])
            )
            shutil.rmtree(loc, ignore_errors=True)
        w = df.write.mode("overwrite").format("parquet")
        if bucket_col is not None and bucket_col in df.columns:
            order_col = "turn_idx" if "turn_idx" in df.columns else bucket_col
            w = w.bucketBy(DEFAULT_BUCKETS, bucket_col).sortBy(bucket_col, order_col)
        w.saveAsTable(name)
        return
    if not is_table_ref(ref):
        df.write.mode("overwrite").parquet(ref)
        return
    w = df.writeTo(table_name(ref)).using("iceberg")
    if bucket_col is not None and bucket_col in df.columns:
        from pyspark.sql.functions import partitioning

        w = w.partitionedBy(partitioning.bucket(DEFAULT_BUCKETS, bucket_col))
    w.createOrReplace()
