"""spark-submit job entry — the CLI sink analog (reference cli.py:22-180).

The reference's single-process CLI (`ocr <file> [--dpi --workers
--force-ocr --json --out]`, ``cli.py:39-105``) becomes a cluster job.
Locally: ``python -m occular_ocr_spark ...``.  On a cluster (spark-submit
takes a script, not ``-m``), ship the package and a two-line launcher::

    echo 'import sys; from occular_ocr_spark.cli import main; sys.exit(main())' > launch.py
    spark-submit --py-files pkg.zip launch.py \
        --input  <parquet/iceberg dir of transcripts> \
        --output <sink dir> \
        [--checkpointed] [--num-buckets 64] [--num-ranges 8] \
        [--partitions 256] [--salt 8] [--force-ocr] \
        [--snapshot-id N] [--format parquet|json] [--text-only]

Flag mapping from the reference surface:

* ``--force-ocr``       -> same semantic: skip the trusted text-layer
                           parse, run the heuristic path (pipeline.py:147).
* ``--workers``         -> ``--partitions`` (Spark task parallelism
                           replaces the thread pool, pipeline.py:14-26);
                           ``--salt N`` spreads a conversation over N
                           keys of that exchange, so it needs
                           ``--partitions``.  With ``--checkpointed``,
                           ``--partitions`` pins the width of the sink's
                           rebalance on ``part_bucket`` and ``--salt`` is
                           refused: AQE splits a hot bucket instead.
* ``--out`` JSON file   -> ``--format json`` (one JSON object per line,
                           ensure_ascii=False like cli.py:165).
* default text print    -> ``--text-only`` (conv_id, turn_idx, text).
* ``--dpi``             -> no analog (no rasterization path; the neural
                           OCR inner loop is stood in for — SURVEY §2 S3).

With ``--checkpointed`` the write goes through
:class:`~occular_ocr_spark.sink.CheckpointedParquetSink` — resumable,
idempotent, lineage-carrying (the north rule's sink); re-running the
same command after a kill completes only the uncommitted ranges.
"""

from __future__ import annotations

import argparse
import sys


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="occular_ocr_spark", description=__doc__.splitlines()[0]
    )
    p.add_argument("--input", required=True,
                   help="transcripts source path (parquet dir, JSON lines, "
                        "CSV, or one-conversation-per-file text)")
    p.add_argument("--input-format", default=None,
                   choices=["parquet", "orc", "json", "csv", "text"],
                   help="source format (default: inferred from the path "
                        "suffix, directories -> parquet)")
    p.add_argument("--output", default=None,
                   help="sink directory (required unless --stdout)")
    p.add_argument("--format", choices=["parquet", "json"], default="parquet")
    p.add_argument("--text-only", action="store_true",
                   help="emit (conv_id, turn_idx, text) only")
    p.add_argument("--force-ocr", action="store_true",
                   help="skip trusted text-layer parse (reference --force-ocr)")
    p.add_argument("--stdout", action="store_true",
                   help="print per-turn results to stdout instead of writing "
                        "a sink directory (reference cli.py:160-180 parity); "
                        "text lines, or one JSON object per line with "
                        "--format json")
    p.add_argument("--partitions", type=int, default=None,
                   help="repartition width (reference --workers analog); "
                        "0 lets AQE size the exchange; with --checkpointed "
                        "it pins the width of the sink's rebalance on "
                        "part_bucket (default: AQE sizes it)")
    p.add_argument("--salt", type=int, default=0,
                   help="salt buckets for skewed mega-conversations "
                        "(needs --partitions: the salt lives in that exchange; "
                        "not with --checkpointed, where AQE splits a hot "
                        "bucket instead)")
    p.add_argument("--snapshot-id", type=int, default=None,
                   help="source snapshot id recorded in lineage")
    p.add_argument("--checkpointed", action="store_true",
                   help="resumable bucket-range sink with manifest + metrics")
    p.add_argument("--num-buckets", type=int, default=64)
    p.add_argument("--num-ranges", type=int, default=8)
    p.add_argument("--master", default=None,
                   help="override master (else spark-submit's choice)")
    p.add_argument("--pipeline", action="store_true",
                   help="run the composed 8-stage curation chain "
                        "(extract -> quality -> dedup -> decontaminate -> "
                        "split -> pack -> shard) instead of plain "
                        "extraction; --input is a tables directory holding "
                        "documents.parquet, --output is the staged pipeline "
                        "directory (resumable: re-running completes only "
                        "uncommitted stages)")
    p.add_argument("--stop-after", default=None,
                   help="with --pipeline: commit stages up to this one and "
                        "exit (resume later by re-running)")
    return p


def main(argv=None) -> int:
    parser = build_parser()
    args = parser.parse_args(argv)
    if args.checkpointed and (args.format != "parquet" or args.text_only or args.stdout):
        # the resumable sink always writes detailed parquet — fail loudly
        # instead of silently ignoring the conflicting flags
        parser.error(
            "--checkpointed writes detailed parquet only; "
            "drop --format/--text-only/--stdout"
        )
    if args.pipeline and (
        args.stdout or args.text_only or args.checkpointed or args.format != "parquet"
    ):
        parser.error(
            "--pipeline writes staged parquet + manifests only; "
            "drop --format/--text-only/--stdout/--checkpointed"
        )
    if args.pipeline and args.stop_after is not None:
        from .pipeline_e2e import STAGES as _stages

        if args.stop_after not in _stages:
            parser.error(f"--stop-after must be one of {', '.join(_stages)}")
    if args.checkpointed and args.salt > 1:
        # the sink's only exchange is its rebalance on part_bucket, where
        # AQE splits a hot bucket by size: there is nothing to salt
        parser.error("--salt is not used with --checkpointed; drop it")
    if args.salt > 1 and args.partitions is None:
        # without an exchange there is nothing to salt
        parser.error("--salt needs --partitions (0 for an AQE-sized exchange)")
    if args.num_buckets < 1 or args.num_ranges < 1:
        parser.error("--num-buckets and --num-ranges must be at least 1")
    if not args.stdout and not args.output:
        parser.error("--output is required unless --stdout is given")

    from pyspark.sql import SparkSession

    from .sources import read_transcripts

    builder = SparkSession.builder.appName("occular-ocr-spark-extract")
    if args.master:
        builder = builder.master(args.master)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try:
        if args.pipeline:
            from .pipeline_e2e import STAGES, is_complete, run_pipeline

            ms = run_pipeline(
                spark,
                args.input,
                args.output,
                stop_after=args.stop_after,
                src_snapshot_id=1 if args.snapshot_id is None else args.snapshot_id,
            )
            for stage in STAGES:
                m = ms.get(stage)
                if m:
                    print(f"stage {stage}: {m['n_rows']} rows, "
                          f"digest {m['digest_sum']}")
            print(f"pipeline complete={is_complete(args.output)}")
            return 0
        if args.checkpointed:
            from .sink import CheckpointedParquetSink

            sink = CheckpointedParquetSink(
                args.output,
                num_buckets=args.num_buckets,
                num_ranges=args.num_ranges,
            )
            committed = sink.write(
                read_transcripts(spark, args.input, args.input_format),
                src_snapshot_id=args.snapshot_id,
                num_partitions=args.partitions,
                force_ocr=args.force_ocr,
            )
            done = len(committed)
            total = sum(e["metrics"].get("n_rows", 0) for e in committed)
            print(f"committed {done} ranges, {total} rows; "
                  f"complete={sink.is_complete()}")
            return 0

        from .job import extract_detailed, extract_text

        df = read_transcripts(spark, args.input, args.input_format)
        out = (
            extract_text(
                df,
                force_ocr=args.force_ocr,
                num_partitions=args.partitions,
                salt_buckets=args.salt,
            )
            if args.text_only
            else extract_detailed(
                df,
                force_ocr=args.force_ocr,
                src_snapshot_id=args.snapshot_id,
                num_partitions=args.partitions,
                salt_buckets=args.salt,
            )
        )
        if args.stdout:
            # Reference stdout parity (cli.py:160-180): Y-sorted plain
            # text, or one JSON object per line with --format json.  A
            # toLocalIterator keeps driver memory at one partition —
            # stdout output is a debugging surface, not the 100 TB sink.
            import json as _json

            if args.format == "json":
                for row in out.orderBy("conv_id", "turn_idx").toLocalIterator():
                    print(_json.dumps(row.asDict(recursive=True), ensure_ascii=False))
            else:
                for row in (
                    out.select("conv_id", "turn_idx", "text")
                    .orderBy("conv_id", "turn_idx")
                    .toLocalIterator()
                ):
                    print(row["text"])
            return 0
        if args.format == "json":
            # one JSON object per line, non-ASCII preserved (cli.py:165)
            out.write.mode("overwrite").option("ignoreNullFields", "false").json(
                args.output
            )
        else:
            out.write.mode("overwrite").parquet(args.output)
        print(f"wrote {args.output} ({args.format})")
        return 0
    finally:
        spark.stop()


if __name__ == "__main__":
    sys.exit(main())
