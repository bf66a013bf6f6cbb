"""Checkpoint + lineage sidecar: idempotent mid-run resume (north rule;
the Spark-scale generalization of the reference's md5-keyed result
cache, question_merger.py:568-609).

The input is bucketed by ``pmod(xxhash64(conv_id), N_BUCKETS)``; each
bucket is a resumable unit. Completed buckets append a lineage row
(run_id, partition_key, status, row counts, order-free checksum) to a
sidecar parquet table; span output is written with dynamic partition
overwrite keyed by the bucket, so re-running a bucket replaces exactly
its own files. Resume = anti-join of buckets against the lineage's
completed set — a re-launched job recomputes only unfinished buckets.

The lineage rows come from one ``groupBy("pk")`` over a union of a
marker row per pending bucket, the pending input rows and the written
spans read back with an explicit schema, so the sidecar costs one
aggregation and no schema inference. Its rows follow
``schema.LINEAGE``, which the resume reads back with; a sidecar that
is missing means nothing is done yet, one that cannot be read raises.

At cluster scale each bucket maps to many tasks (it is a logical
commit unit, not a physical partition); N_BUCKETS trades resume
granularity against lineage-table size.
"""
from __future__ import annotations

import pyspark.sql.functions as F
import pyspark.sql.types as T
from pyspark.sql import DataFrame, SparkSession

from . import pipeline, schema

N_BUCKETS = 64  # resumable units of one checkpointed run

# the span table as written: schema.SPANS plus the bucket partition column
_SPANS_PK = T.StructType(
    schema.SPANS.fields + [T.StructField("pk", T.IntegerType(), True)]
)


def bucket_of(col):
    return F.pmod(F.xxhash64(col), F.lit(N_BUCKETS)).cast("int")


def completed_buckets(spark: SparkSession, ckpt_dir: str, run_id: str) -> list[int]:
    # asked of the session's FileSystem first: a read of a missing path
    # logs a WARN with a Java stack trace before it raises
    path = spark._jvm.org.apache.hadoop.fs.Path(ckpt_dir)  # noqa: SLF001
    if not path.getFileSystem(spark._jsc.hadoopConfiguration()).exists(path):  # noqa: SLF001
        return []  # first run: no sidecar yet
    lin = spark.read.schema(schema.LINEAGE).parquet(ckpt_dir)
    return [
        int(r.partition_key)
        for r in lin.filter(
            (F.col("run_id") == run_id) & (F.col("status") == "done")
        )
        .select("partition_key")
        .distinct()
        .collect()
    ]


def run_with_checkpoint(
    spark: SparkSession,
    transcripts: DataFrame,
    output_dir: str,
    ckpt_dir: str,
    run_id: str = "run0",
) -> dict:
    done = set(completed_buckets(spark, ckpt_dir, run_id))
    pending = [b for b in range(N_BUCKETS) if b not in done]
    if not pending:
        return {"partitions_done": 0, "partitions_skipped": len(done)}

    src = transcripts.withColumn("pk", bucket_of(F.col("conv_id")))
    todo = src.filter(F.col("pk").isin(pending))

    spans = pipeline.extract(todo.drop("pk")).withColumn(
        "pk", bucket_of(F.col("conv_id"))
    )

    # dynamic overwrite: only the partitions present in `spans` are
    # replaced — a crashed bucket's partial files are overwritten
    # whole on retry, never appended to. A write option, so the
    # caller's session conf is left as it was.
    (
        spans.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("pk")
        .parquet(output_dir)
    )

    # per-bucket lineage in one groupBy("pk") over three row kinds: one
    # marker per pending bucket (so empty buckets get a row too — else
    # they would be "recomputed" on every resume), the pending input
    # rows, and the written spans read back (counts + an order-free
    # checksum of the span identities: commutative XOR of row hashes)
    written = (
        spark.read.schema(_SPANS_PK)
        .parquet(output_dir)
        .filter(F.col("pk").isin(pending))
        .select(
            "pk",
            "split_from_merged",
            "has_image",
            F.xxhash64("conv_id", "turn_idx", "seq", "span_text").alias("h"),
        )
    )
    lineage = (
        spark.createDataFrame([(b,) for b in pending], "pk int")
        .unionByName(
            todo.select("pk", F.lit(1).alias("row_in")), allowMissingColumns=True
        )
        .unionByName(written, allowMissingColumns=True)
        .groupBy("pk")
        .agg(
            F.lit(run_id).alias("run_id"),
            F.col("pk").alias("partition_key"),
            F.lit("done").alias("status"),
            F.count("row_in").alias("rows_in"),
            F.count("h").alias("rows_out"),
            F.count_if("split_from_merged").alias("splits"),
            F.count_if("has_image").alias("merges"),
            F.coalesce(
                F.conv(F.bit_xor("h").cast("string"), 10, 16), F.lit("0")
            ).alias("checksum"),
            F.current_timestamp().alias("ts"),
        )
    )
    # column order and types of the shared LINEAGE schema, which
    # completed_buckets reads back, so appends keep one schema
    lineage.select(
        *[F.col(f.name).cast(f.dataType) for f in schema.LINEAGE]
    ).write.mode("append").parquet(ckpt_dir)
    return {"partitions_done": len(pending), "partitions_skipped": len(done)}
