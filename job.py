"""spark-submit entry point (north rule: ``spark-submit --py-files
xtract.zip job.py``).

Examples
--------
Generate 100 synthetic conversations and extract::

    spark-submit --py-files xtract.zip job.py \
        --input gen:100 --output /tmp/spans --partitions 32

Extract from an existing transcripts table (parquet dir)::

    spark-submit --py-files xtract.zip job.py \
        --input /data/transcripts --output /data/spans

Under ``spark-submit`` the launcher starts the driver JVM before this
script runs, so the session takes the launcher's master, heap and JVM
options: pass ``--driver-memory 8g`` for the heap a plain ``python``
driver gets; for a warm JVM start, the class-data-sharing archive
that ``xtract.session`` keeps once a plain ``python`` driver has
started twice on the machine; and under a local master, the one C2
compiler thread a plain ``python`` driver's JVM runs (both in
``xtract.session``'s docstring), e.g.::

    SPARK_CONF_DIR=~/.cache/xtract/cds/conf spark-submit \
        --master 'local[*]' --driver-memory 8g \
        --driver-java-options "-XX:CICompilerCount=2 \
            -XX:SharedArchiveFile=$(ls ~/.cache/xtract/cds/*.jsa) \
            -XX:+VerifySharedSpaces -Xlog:cds=off,cds+dynamic=off" \
        --py-files xtract.zip job.py --input gen:100 --output /tmp/spans

Without ``--partitions``, a launcher's ``--conf
spark.sql.shuffle.partitions`` holds; else ``--master local[n]`` (or a
launcher's ``spark.default.parallelism``) gives ``n`` shuffle
partitions, and a cluster master keeps Spark's default (200, which AQE
coalesces).
"""
from __future__ import annotations

import argparse
import json
import sys
import time


def parse_args(argv: list[str] | None = None) -> argparse.Namespace:
    """The job's options, with every usage check (exit 2) done before
    any session is built or any sink writes."""
    ap = argparse.ArgumentParser(description="xtract: per-turn main-content extraction")
    ap.add_argument(
        "--input",
        required=True,
        help=(
            "transcripts parquet path, table:<catalog.db.name> for an "
            "Iceberg/catalog table, gen:<n_convs> for synthetic input, "
            "pdf:<dir> for a directory of PDF pages, html:<dir> for "
            "a directory of HTML pages (boilerplate-stripped first), "
            "ocrjson:<glob> for layout-parser JSON result envelopes, "
            "or jsonl:<glob> for JSON-lines transcript deliveries "
            "(PERMISSIVE parse; malformed lines quarantined, see "
            "--quarantine)"
        ),
    )
    ap.add_argument(
        "--quarantine",
        default=None,
        help=(
            "with --input jsonl:, also write the raw malformed lines "
            "to this parquet path (column: raw)"
        ),
    )
    ap.add_argument(
        "--output",
        required=True,
        help="span sink: parquet path or table:<catalog.db.name>",
    )
    ap.add_argument(
        "--partitions",
        type=int,
        default=None,
        help="shuffle partitions (default: the launcher's, else n under a "
        "local[n] master, else Spark's)",
    )
    ap.add_argument(
        "--exam-info", default=None, help="optional output path for per-turn exam metadata"
    )
    ap.add_argument(
        "--stats", default=None, help="optional output path for per-conversation rollups"
    )
    ap.add_argument(
        "--assembled",
        default=None,
        help="optional sink for cross-turn continuation-merged segments",
    )
    ap.add_argument(
        "--assembled-mode",
        default="dense",
        choices=["dense", "sparse"],
        help="dense = per-conversation segment ordinals (one conv_id "
        "shuffle of all spans); sparse = boundary-only plan keyed by "
        "head-span identity (the span table never shuffles)",
    )
    ap.add_argument(
        "--groups",
        default=None,
        help="optional sink for v2-analyzer semantic groups "
        "(doc_title/header/aside/question/unknown with merged bbox+text)",
    )
    ap.add_argument(
        "--dup-pairs",
        default=None,
        help="optional sink for near-duplicate span pairs (winnowing fingerprints)",
    )
    ap.add_argument(
        "--dup-clusters",
        default=None,
        help="optional sink for near-duplicate span CLUSTER labels "
        "(winnowing-fingerprint pair graph closed with "
        "large-star/small-star connected components)",
    )
    ap.add_argument(
        "--windows",
        default=None,
        help="optional sink for greedy context-budget training windows "
        "(per-conversation capacitated segmentation)",
    )
    ap.add_argument(
        "--loss-mask",
        default=None,
        help="optional sink for the SFT loss-mask span table "
        "(per-turn [start_tok, end_tok) offsets + masked flag)",
    )
    ap.add_argument(
        "--export-jsonl",
        default=None,
        help="also export the written spans as JSON-lines text "
        "(one object per span; the delivery format downstream "
        "training jobs ingest)",
    )
    ap.add_argument(
        "--parity-sample",
        type=int,
        default=None,
        metavar="MOD",
        help="after extraction, audit per-turn equality against the "
        "pure-Python reference oracle on a 1/MOD hash-sample of whole "
        "conversations (1 = every turn); adds a parity block to the "
        "job's JSON line and exits nonzero on any mismatch",
    )
    ap.add_argument(
        "--checkpoint", default=None, help="sidecar lineage dir for idempotent resume"
    )
    ap.add_argument("--run-id", default="run0", help="run id recorded in lineage rows")
    args = ap.parse_args(argv)

    from xtract import catalog

    # validate flag combinations BEFORE any expensive work
    # (0 would read as "off" and a negative modulus as "every turn")
    for flag, value in (("--partitions", args.partitions),
                        ("--parity-sample", args.parity_sample)):
        if value is not None and value < 1:
            ap.error(f"{flag} must be at least 1")
    # depends only on args, so it runs BEFORE the input dispatch: a
    # usage error must never leave a partial side effect (the jsonl
    # arm's --quarantine sink writes during dispatch)
    if args.checkpoint and (
        catalog.is_table_ref(args.output) or catalog.is_btable_ref(args.output)
    ):
        ap.error(
            "--checkpoint uses parquet dynamic-partition-overwrite; "
            "give --output a parquet path (the lineage sidecar itself "
            "is the table analogue)"
        )

    # only the jsonl arm has malformed lines to quarantine
    if args.quarantine and not args.input.startswith("jsonl:"):
        ap.error("--quarantine requires --input jsonl:")
    return args


def run(spark, args: argparse.Namespace) -> dict:
    """Read the input, write every requested sink and return the job's
    JSON line as a dict; the session stays open, holding no RDD the run
    persisted."""
    from xtract import catalog, cc, gen, pipeline

    t0 = time.monotonic()
    # a sink may leave RDDs persisted for its lazy reads (cc's last
    # edge generation); they are released once every sink is written
    held = cc.persistent_ids(spark.sparkContext)

    jsonl_obs = None
    if args.input.startswith("gen:"):
        df = gen.transcripts(spark, int(args.input[4:]), partitions=args.partitions)
    elif args.input.startswith("pdf:"):
        from xtract import pdf

        df = pdf.read_pdfs(spark, args.input[4:])
    elif args.input.startswith("html:"):
        from xtract import html

        df = html.read_html(spark, args.input[5:])
    elif args.input.startswith("ocrjson:"):
        from xtract import ingest

        df = ingest.read_envelopes(spark, args.input[8:])
    elif args.input.startswith("jsonl:"):
        import pyspark.sql.functions as F
        from pyspark.sql import Observation

        from xtract import ingest

        parsed = ingest.read_jsonl_transcripts(spark, args.input[6:])
        if args.quarantine:
            catalog.write_ref(
                ingest.corrupt_rows(parsed), args.quarantine, bucket_col=None
            )
        # bad-line accounting rides the extraction scan as an
        # Observation — no extra pass over the delivery just to count
        jsonl_obs = Observation("jsonl_ingest")
        parsed = parsed.observe(
            jsonl_obs, F.sum(ingest.is_bad().cast("long")).alias("n_bad")
        )
        df = ingest.good_rows(parsed)
    else:
        df = catalog.read_ref(spark, args.input)

    if args.checkpoint:
        from xtract import ckpt

        result = ckpt.run_with_checkpoint(
            spark, df, args.output, args.checkpoint, run_id=args.run_id
        )
    else:
        catalog.write_ref(pipeline.extract(df), args.output)
        result = {"partitions_done": None}

    # the span table as written, read once for every consumer below
    written = catalog.read_ref(spark, args.output)
    n_turns = df.count()
    n_spans = written.count()
    # populated by the n_turns count action above (the extraction
    # write may bypass the observed node under checkpointed runs, but
    # df.count() always executes it)
    n_quarantined = (
        int(jsonl_obs.get["n_bad"] or 0) if jsonl_obs is not None else None
    )
    if n_quarantined and not args.quarantine:
        print(
            f"warning: {n_quarantined} malformed jsonl lines dropped "
            "(no --quarantine sink given)",
            file=sys.stderr,
        )

    if args.exam_info:
        catalog.write_ref(pipeline.exam_info(df), args.exam_info)
    if args.groups:
        catalog.write_ref(
            pipeline.flatten_groups(pipeline.analyze(df)),
            args.groups,
        )
    if args.stats:
        catalog.write_ref(
            pipeline.conversation_stats(written),
            args.stats,
        )
    if args.windows:
        from xtract import structure

        catalog.write_ref(structure.conv_windows(df), args.windows)
    if args.loss_mask:
        from xtract import structure

        catalog.write_ref(structure.loss_mask(df), args.loss_mask)
    if args.export_jsonl:
        import pyspark.sql.functions as F

        from xtract import schema

        # one JSON object per span, with exactly the span columns (a
        # checkpointed read also carries the bucket column pk) and
        # nulls kept, so every object has the same keys; text sink
        # keeps the export a pure map over the written parquet
        cols = F.struct(*schema.SPANS.fieldNames())
        (
            written.select(
                F.to_json(cols, {"ignoreNullFields": "false"}).alias("value")
            )
            .write.mode("overwrite")
            .text(args.export_jsonl)
        )
    if args.assembled:
        from xtract import assemble

        asm_fn = (
            assemble.merge_continuations_sparse
            if args.assembled_mode == "sparse"
            else assemble.merge_continuations
        )
        catalog.write_ref(asm_fn(written), args.assembled)
    if args.dup_pairs or args.dup_clusters:
        from xtract import fingerprint

        pairs = fingerprint.dup_spans(written)
        if args.dup_pairs:
            catalog.write_ref(pairs, args.dup_pairs, bucket_col=None)
            # reuse the written bytes — the fingerprint kernel and pair
            # self-join run once even when both sinks are requested
            pairs = catalog.read_ref(spark, args.dup_pairs)
        if args.dup_clusters:
            import pyspark.sql.functions as F

            edges = pairs.select(
                F.col("doc_a").alias("a"), F.col("doc_b").alias("b")
            )
            labels, _ = cc.connected_components(edges)
            catalog.write_ref(
                labels.withColumnRenamed("node", "span_key").withColumnRenamed(
                    "rep", "cluster_rep"
                ),
                args.dup_clusters,
                bucket_col=None,
            )

    if args.parity_sample:
        from xtract import parity

        # audit the WRITTEN spans (the actual output bytes), not a
        # re-extraction — read_ref of the sink vs the executor-side
        # pure-Python oracle over the same (hash-sampled) turns
        prow = parity.parity_report(df, written, args.parity_sample).collect()[0]
        result["parity"] = {
            "turns_audited": prow.n_turns,
            "mismatch": prow.n_mismatch,
            # None for an empty sample
            "pass_rate_ppm": prow.pass_rate_ppm,
        }

    cc.unpersist_ids(spark.sparkContext, cc.persistent_ids(spark.sparkContext) - held)
    wall = time.monotonic() - t0
    return {
        "turns": n_turns,
        "spans": n_spans,
        "sec": round(wall, 2),
        "turns_per_sec": round(n_turns / wall, 1),
        **({"quarantined": n_quarantined} if n_quarantined is not None else {}),
        **{k: v for k, v in result.items() if v is not None},
    }


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)

    from xtract import session

    spark = session.build(app="xtract-job", shuffle_partitions=args.partitions)
    line = run(spark, args)
    print(json.dumps(line))
    spark.stop()
    return 1 if line.get("parity", {}).get("mismatch") else 0


if __name__ == "__main__":
    sys.exit(main())
