"""Spark extraction job — the distributed twin of the pure-Python oracle.

Plan shape (SURVEY.md §3 target lifecycle):

    scan -> repartition(hash(conv_id) [+ salt]) -> mapInArrow(extract)
         -> (optional) conversation_text: two-phase groupBy + array_sort
            assembly -> sink

All custom logic lives inside Arrow-batched ``mapInArrow`` (no per-row
Python at the DataFrame level, per BASELINE.json input_hint).  One Arrow
batch plays the role of the reference recognizer's width bucket
(``recognizer_onnx.py:60-86``).  The reference's name->class registry
and its per-process instance cache (``registry.py:29-52``) exist so that
model weights load once; the kernel here (``core.extract_turn_raw``) is a
stateless function, so the UDF calls it directly.
"""

from __future__ import annotations

import os
import sys
import warnings
import zipimport
from typing import Optional

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from .extraction import core

SPAN_TYPE = StructType(
    [
        StructField("start", IntegerType(), False),
        StructField("end", IntegerType(), False),
        StructField("y", IntegerType(), False),
    ]
)
BLOCK_TYPE = StructType(
    [
        StructField("span", SPAN_TYPE, False),
        StructField("text", StringType(), False),
        StructField("confidence", DoubleType(), False),
    ]
)
EXTRACTED_SCHEMA = StructType(
    [
        StructField("conv_id", StringType(), False),
        StructField("turn_idx", IntegerType(), False),
        StructField("method", StringType(), False),
        StructField("blocks", ArrayType(BLOCK_TYPE), False),
        StructField("text", StringType(), False),
        StructField("src_snapshot_id", LongType(), True),
        StructField("partition_id", IntegerType(), True),
        StructField("extractor_version", StringType(), False),
    ]
)


def repartition_salted(
    df: DataFrame, num_partitions: int, salt_buckets: int = 0
) -> DataFrame:
    """Hash-repartition by conv_id, optionally salted for skew.

    The north rule's "salted repartitioning for skewed mega-conversations":
    without salt, one 10^6-turn conv_id serializes into one task (the
    analog of the reference's main-thread rasterization bottleneck,
    ``pipeline.py:139-141`` — the anti-pattern we must not replay).  With
    salt, a conversation's turns spread over ``salt_buckets`` tasks;
    extraction is per-turn so no merge-phase correctness is lost, and the
    conversation-level assembly re-sorts by turn_idx (two-phase pattern,
    SURVEY.md §4).

    ``num_partitions``: a positive int pins the exchange width (tests /
    explicit tuning).  ``0`` requests a column-only repartition: the
    exchange hashes on the same keys but its width comes from
    ``spark.sql.shuffle.partitions`` AND AQE may coalesce small
    partitions at runtime.  That is the production setting — on a
    1000-executor cluster the right width is cluster-sized config, not
    a number baked into the job, and on a small input AQE collapses the
    exchange instead of fanning a few thousand rows across the full
    width (each tiny task pays Python-worker + Arrow setup).  AQE's
    coalescing is size-targeted, so skewed salt buckets stay split —
    only genuinely small partitions merge.
    """
    cols = [F.col("conv_id")]
    if salt_buckets and salt_buckets > 1:
        cols.append(F.pmod(F.col("turn_idx"), F.lit(salt_buckets)))
    if num_partitions:
        return df.repartition(num_partitions, *cols)
    return df.repartition(*cols)


def _guard_zipimport_rereads() -> None:
    """Make ``importlib.invalidate_caches()`` skip zip archives that have
    not changed, in this Python process.

    PySpark's worker calls ``importlib.invalidate_caches()`` at the start
    of every task, and before Python 3.12 (gh-103200 made it lazy) that
    makes every ``zipimporter`` re-read its archive's whole central
    directory: pyspark.zip, the py4j zip, the spark-core jar and any
    ``--py-files`` archive, 16 importers on a local executor, 125-400 ms
    per task on a 4-cpu host.  The guarded ``invalidate_caches`` re-reads
    only when ``os.stat`` of the archive differs from the
    ``(st_mtime_ns, st_size, st_ino)`` recorded at its last read, the
    staleness test ``FileFinder`` applies to directories.  An archive
    that cannot be stat'ed, or an importer not yet stamped, re-reads as
    before, so a replaced or newly added archive is still picked up.

    Idempotent; importers already in ``sys.path_importer_cache`` are
    stamped at install, so only a worker's first task pays the re-read.
    A no-op on Python >= 3.12.
    """
    if sys.version_info >= (3, 12):
        return
    zi = zipimport.zipimporter
    if getattr(zi.invalidate_caches, "_stat_guarded", False):
        return
    reread = zi.invalidate_caches

    def _stat(path):
        try:
            st = os.stat(path)
        except OSError:
            return None
        return (st.st_mtime_ns, st.st_size, st.st_ino)

    def invalidate_caches(self):
        st = _stat(self.archive)
        if st is not None and st == getattr(self, "_archive_stat", None):
            return
        reread(self)
        self._archive_stat = st

    invalidate_caches._stat_guarded = True
    for finder in list(sys.path_importer_cache.values()):
        if isinstance(finder, zi):
            finder._archive_stat = _stat(finder.archive)
    zi.invalidate_caches = invalidate_caches


def extraction_input(df: DataFrame) -> DataFrame:
    """The columns :func:`extract_batches` reads, projected BEFORE any
    exchange: only (conv_id, turn_idx, text) ride the shuffle — role/tool/ts
    never leave the scan.  The casts pin the Arrow input types so the UDF
    can pass key columns through zero-copy."""
    return df.select(
        F.col("conv_id").cast("string").alias("conv_id"),
        F.col("turn_idx").cast("int").alias("turn_idx"),
        F.col("text").cast("string").alias("text"),
    )


def extract_batches(batches, force_ocr: bool, snap: int):
    """The Arrow batch loop of every extraction UDF: for each input
    ``RecordBatch`` (with ``conv_id``, ``turn_idx`` and ``text``) yield
    ``(in_rb, out_rb)``, ``out_rb`` being its turns under
    ``EXTRACTED_SCHEMA`` with ``src_snapshot_id`` = ``snap``.

    Runs inside a ``mapInArrow`` body.  The nested blocks column is
    assembled directly as ListArray<StructArray> from flat builders —
    ~2x faster end-to-end than pandas object-column -> Arrow struct
    inference, which profiling showed cost as much as the extraction
    itself.  One Arrow batch plays the reference recognizer's width
    bucket (recognizer_onnx.py:60-86).
    """
    _guard_zipimport_rereads()
    import pyarrow as pa

    from pyspark import TaskContext

    ctx = TaskContext.get()
    pid = int(ctx.partitionId()) if ctx is not None else -1
    extract = core.extract_turn_raw
    for rb in batches:
        payloads = rb.column(rb.schema.get_field_index("text")).to_pylist()
        n = len(payloads)
        methods: list = []
        texts_out: list = []
        offsets = [0]
        b_start: list = []
        b_end: list = []
        b_y: list = []
        b_text: list = []
        b_conf: list = []
        for payload in payloads:
            method, blocks, text = extract(payload, force_ocr)
            methods.append(method)
            texts_out.append(text)
            for start, end, y, btext, conf in blocks:
                b_start.append(start)
                b_end.append(end)
                b_y.append(y)
                b_text.append(btext)
                b_conf.append(conf)
            offsets.append(len(b_start))
        span_arr = pa.StructArray.from_arrays(
            [
                pa.array(b_start, pa.int32()),
                pa.array(b_end, pa.int32()),
                pa.array(b_y, pa.int32()),
            ],
            names=["start", "end", "y"],
        )
        block_arr = pa.StructArray.from_arrays(
            [span_arr, pa.array(b_text, pa.string()), pa.array(b_conf, pa.float64())],
            names=["span", "text", "confidence"],
        )
        blocks_arr = pa.ListArray.from_arrays(pa.array(offsets, pa.int32()), block_arr)
        yield rb, pa.RecordBatch.from_arrays(
            [
                rb.column(rb.schema.get_field_index("conv_id")),
                rb.column(rb.schema.get_field_index("turn_idx")),
                pa.array(methods, pa.string()),
                blocks_arr,
                pa.array(texts_out, pa.string()),
                pa.array([snap] * n, pa.int64()),
                pa.array([pid] * n, pa.int32()),
                pa.array([core.EXTRACTOR_VERSION] * n, pa.string()),
            ],
            names=[f.name for f in EXTRACTED_SCHEMA.fields],
        )


def extract_detailed(
    df: DataFrame,
    force_ocr: bool = False,
    src_snapshot_id: Optional[int] = None,
    num_partitions: Optional[int] = None,
    salt_buckets: int = 0,
    jvm_plain_fast_path: bool = False,
) -> DataFrame:
    """Detailed extraction: one output row per turn, with blocks + lineage.

    The analog of ``ocr_detailed()`` (``ocr_skel/__init__.py:104-135``).
    Output schema mirrors FIXTURES.md §2 plus the north rule's lineage
    columns (src_snapshot_id, partition_id, extractor_version).  Every
    turn goes through one ``mapInArrow`` over :func:`extract_batches`.

    ``num_partitions``: ``None`` runs no exchange (the caller already
    partitioned), ``0`` an AQE-sized salted exchange and a positive int
    a pinned-width one (see :func:`repartition_salted`).  Salt lives in
    that exchange, so ``salt_buckets > 1`` without one is a
    ``ValueError`` rather than a silent no-op.

    ``jvm_plain_fast_path`` is ignored; ``True`` warns with a
    ``UserWarning`` because the JVM plain fast path was removed.  Only
    the benchmark's traced mode still passes it (``False``); the
    benchmark-v2 change removes that call and this keyword with it.
    """
    if jvm_plain_fast_path:
        warnings.warn(
            "extract_detailed ignores jvm_plain_fast_path=True: the JVM plain "
            "fast path was removed; every turn runs the mapInArrow kernel",
            UserWarning,
            stacklevel=2,
        )
    if salt_buckets > 1 and num_partitions is None:
        raise ValueError(
            f"salt_buckets={salt_buckets} needs an exchange to salt: pass "
            "num_partitions (0 for an AQE-sized exchange)"
        )
    df = extraction_input(df)
    snap = -1 if src_snapshot_id is None else int(src_snapshot_id)
    if num_partitions is not None:
        df = repartition_salted(df, num_partitions, salt_buckets)

    def run(batches):
        for _, out in extract_batches(batches, force_ocr, snap):
            yield out

    return df.mapInArrow(run, schema=EXTRACTED_SCHEMA)


def extract_text(df: DataFrame, **kwargs) -> DataFrame:
    """Simple API: per-turn plain text (the ``ocr()`` analog,
    ``ocr_skel/__init__.py:58-101``)."""
    return extract_detailed(df, **kwargs).select("conv_id", "turn_idx", "text")


#: Turns per assembly chunk.  Phase-1 aggregation state is bounded by
#: this many (turn_idx, text) structs per task regardless of how big a
#: conversation is; raise/lower per deployment memory.
ASSEMBLY_CHUNK_TURNS = 1024


def conversation_text(
    extracted: DataFrame, chunk_turns: int = ASSEMBLY_CHUNK_TURNS
) -> DataFrame:
    """Assemble whole-conversation text under stable turn ordering.

    The cross-turn analog of the reference's page-list assembly
    (``__init__.py:91-95``: per-page text list in page order, joined).

    Two-phase chunked concat (VERDICT r4 #6 — mega-conversation
    safety): phase 1 groups by ``(conv_id, turn_idx DIV chunk)`` and
    order-concats each chunk, so no aggregation buffer ever holds more
    than ``chunk_turns`` turn structs; phase 2 order-concats the chunk
    texts per conversation (a 10⁹-turn conversation is ~10⁶ chunk rows
    here, not 10⁹ structs in one buffer).  Both phases are groupBy +
    array_sort — partial-aggregable shuffles, no windows — and the
    result is bit-identical to a single-phase ordered join because
    "\\n".join composes associatively and ``turn_idx`` is unique
    within a conversation.  The FINAL row still carries the whole
    conversation's text (the row IS the conversation — semantically
    inherent); chunking bounds the *aggregation state*, which is where
    the single-task OOM lived.
    """
    chunks = (
        extracted.groupBy(
            "conv_id",
            (F.col("turn_idx") - (F.col("turn_idx") % chunk_turns)).alias("chunk_id"),
        )
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("turn_idx"), F.col("text")))
            ).alias("turns")
        )
        .select(
            "conv_id",
            "chunk_id",
            F.array_join(F.transform("turns", lambda t: t["text"]), "\n").alias(
                "chunk_text"
            ),
            F.size("turns").alias("chunk_turns"),
        )
    )
    return (
        chunks.groupBy("conv_id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("chunk_id", "chunk_text", "chunk_turns"))
            ).alias("cs")
        )
        .select(
            "conv_id",
            F.array_join(F.transform("cs", lambda c: c["chunk_text"]), "\n").alias(
                "text"
            ),
            F.aggregate(
                F.col("cs"), F.lit(0), lambda acc, c: acc + c["chunk_turns"]
            ).alias("n_turns"),
        )
    )
