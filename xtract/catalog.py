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
- ``iceberg_available`` probes the JVM for the Iceberg SparkCatalog
  class at runtime — no import-time failure, no jar assumption.
- ``configure_iceberg`` returns the exact session confs a production
  launch adds (``spark-submit --packages org.apache.iceberg:…`` +
  these confs); kept here so the deployment recipe is code, not docs.
- Writes to table refs create bucketed tables (``bucket(N, conv_id)``)
  — the partition strategy the rest of the engine assumes: per-conv
  grouping is a local (bucket-pruned) operation, and the sidecar
  lineage table commits atomically per partition (generalizing the
  reference's md5-keyed pickle cache, question_merger.py:568-609).
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

ICEBERG_CATALOG_CLASS = "org.apache.iceberg.spark.SparkCatalog"
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


def iceberg_available(spark: SparkSession) -> bool:
    """True iff the Iceberg Spark runtime is on the JVM classpath."""
    try:
        jvm = spark._jvm  # noqa: SLF001 — capability probe needs the JVM
        jvm.java.lang.Class.forName(ICEBERG_CATALOG_CLASS)
        return True
    except Exception:
        return False


def configure_iceberg(builder, catalog: str = "local", warehouse: str = "/tmp/warehouse"):
    """Session confs for a Hadoop-catalog Iceberg deployment. Apply to
    a SparkSession.builder BEFORE getOrCreate; requires the Iceberg
    runtime jar (``--packages org.apache.iceberg:iceberg-spark-runtime-
    <spark_ver>:<ver>`` on spark-submit)."""
    return (
        builder.config(
            "spark.sql.extensions",
            "org.apache.iceberg.spark.extensions.IcebergSparkSessionExtensions",
        )
        .config(f"spark.sql.catalog.{catalog}", ICEBERG_CATALOG_CLASS)
        .config(f"spark.sql.catalog.{catalog}.type", "hadoop")
        .config(f"spark.sql.catalog.{catalog}.warehouse", warehouse)
    )


def read_ref(spark: SparkSession, ref: str) -> DataFrame:
    """``table:``/``btable:`` ref → catalog table; else parquet path."""
    if is_table_ref(ref) or is_btable_ref(ref):
        return spark.read.table(table_name(ref))
    return spark.read.parquet(ref)


def write_ref(
    df: DataFrame,
    ref: str,
    mode: str = "overwrite",
    bucket_col: str | None = "conv_id",
    n_buckets: int = DEFAULT_BUCKETS,
) -> None:
    """``table:`` ref → Iceberg ``writeTo`` (createOrReplace with
    conv_id bucketing / append); else parquet with the same mode.

    Bucketing by conv_id is the scale contract: spans and transcripts
    co-partition, so per-conversation joins and ordered-window stages
    read co-located buckets instead of shuffling 10^12 rows.
    """
    if is_btable_ref(ref):
        # Spark-managed bucketed parquet table: the bucketing metadata
        # makes conv_id-keyed joins/aggregations over the table
        # exchange-free on read (asserted in tests/test_catalog.py) —
        # the in-container-verifiable stand-in for the Iceberg
        # bucket(N, conv_id) layout the table: arm declares
        name = table_name(ref)
        spark = df.sparkSession
        if mode == "overwrite" and not spark.catalog.tableExists(name):
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
        w = df.write.mode(mode).format("parquet")
        if bucket_col is not None and bucket_col in df.columns:
            order_col = "turn_idx" if "turn_idx" in df.columns else bucket_col
            w = w.bucketBy(n_buckets, bucket_col).sortBy(bucket_col, order_col)
        w.saveAsTable(name)
        return
    if not is_table_ref(ref):
        df.write.mode(mode).parquet(ref)
        return
    name = table_name(ref)
    if mode == "append":
        df.writeTo(name).append()
        return
    w = df.writeTo(name).using("iceberg")
    if bucket_col is not None and bucket_col in df.columns:
        from pyspark.sql.functions import partitioning

        w = w.partitionedBy(partitioning.bucket(n_buckets, bucket_col))
    w.createOrReplace()


def compact_parquet(
    spark: SparkSession, path: str, target_mb: int = 256
) -> dict:
    """Small-file compaction for a parquet directory — the operational
    counterpart of checkpointed ingestion, which naturally leaves one
    file per partition task. Sizes the output by actual bytes
    (ceil(total/target)), rewrites to a sibling temp dir, then swaps.
    On Iceberg deployments the same maintenance is
    `rewrite_data_files`; this is the parquet-path arm. Returns
    {files_before, files_after, bytes}."""
    import glob as _glob
    import math
    import os
    import shutil

    if target_mb <= 0:
        raise ValueError("target_mb must be positive")
    path = path.rstrip("/")
    # local-filesystem implementation (os.walk/glob/rename below): a
    # URI path (s3://, hdfs://) would pass the hive-partition guard
    # vacuously, compute total=0, then crash at os.rename AFTER the
    # main write, stranding a .__compact__ dir — refuse it up front.
    # The remote-store counterpart is Iceberg rewrite_data_files.
    if "://" in path:
        raise ValueError(
            f"compact_parquet is local-filesystem only, got {path!r}; "
            "use Iceberg rewrite_data_files (or a distcp-style rewrite) "
            "for remote stores"
        )
    bak = path + ".__old__"
    # crash recovery: a previous compaction killed between the two
    # renames left the data under .__old__ and nothing at `path`
    if os.path.isdir(bak) and not os.path.isdir(path):
        os.rename(bak, path)
    if not os.path.isdir(path):
        raise ValueError(f"{path} is not an existing local directory")

    # refuse hive-partitioned layouts: a flat rewrite would silently
    # turn partition columns into data columns and kill pruning
    for root, dirs, _ in os.walk(path):
        if any("=" in d for d in dirs):
            raise ValueError(
                f"{path} is hive-partitioned ({root}); compact each "
                "partition directory individually to preserve pruning"
            )

    files = _glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
    total = sum(os.path.getsize(f) for f in files)
    n_out = max(1, math.ceil(total / (target_mb * 1024 * 1024)))
    tmp = path + ".__compact__"
    shutil.rmtree(tmp, ignore_errors=True)
    (
        spark.read.parquet(path)
        .repartition(n_out)
        .write.mode("overwrite")
        .parquet(tmp)
    )
    shutil.rmtree(bak, ignore_errors=True)
    os.rename(path, bak)
    os.rename(tmp, path)  # crash before this line → recovered on next call
    shutil.rmtree(bak, ignore_errors=True)
    after = _glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
    return {
        "files_before": len(files),
        "files_after": len(after),
        "bytes": total,
    }
