"""Structured Streaming extraction path (axis-B net-new vs the reference).

The reference has no streaming surface (SURVEY.md §2: "no
streaming/watermarks/stateful ops"); continuous ingest is pure scale-out
structure.  This module is the streaming twin of ``job.extract_detailed``:
the SAME Arrow ``mapInArrow`` extraction (one shared implementation, so
per-turn text equality holds on both paths) applied to a file-source
``readStream`` with a checkpointed, exactly-once parquet sink — new
transcript files landing in the input directory are extracted
incrementally, and a restart resumes from the last committed micro-batch
(the streaming analog of ``sink.CheckpointedParquetSink``'s manifest).

At production scale the file source becomes a Kafka or Iceberg
incremental-scan source and the sink an Iceberg table; the plan shape
(source -> ArrowEvalPython -> sink) is identical.  The catalog's
streaming entries (``queries_ext``) hold the monitoring aggregations
that run over the same stream.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from ..job import extract_detailed
from ..sources import TRANSCRIPT_SCHEMA


def read_transcript_stream(
    spark: SparkSession,
    input_dir: str,
    max_files_per_trigger: Optional[int] = None,
) -> DataFrame:
    """File-source stream of transcript turns (file streams must declare
    their schema up front: ``sources.TRANSCRIPT_SCHEMA``).

    ``maxFilesPerTrigger`` bounds micro-batch size — the streaming analog
    of the batch job's partition sizing (keeps one micro-batch's Arrow
    buffers inside executor memory at any corpus scale).
    """
    reader = spark.readStream.schema(TRANSCRIPT_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", int(max_files_per_trigger))
    return reader.parquet(input_dir)


def extract_stream(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
    src_snapshot_id: Optional[int] = None,
    max_files_per_trigger: Optional[int] = None,
) -> StreamingQuery:
    """Continuous extraction: readStream -> mapInArrow extract -> parquet.

    Exactly-once per input file via the checkpoint: re-running after a
    kill re-processes only uncommitted micro-batches (no duplicate rows),
    and newly arrived files are picked up incrementally.
    ``available_now=True`` drains everything currently present and stops
    — the bounded-backfill trigger; ``False`` keeps the query live.
    """
    stream = read_transcript_stream(spark, input_dir, max_files_per_trigger)
    extracted = extract_detailed(stream, src_snapshot_id=src_snapshot_id)
    writer = (
        extracted.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
