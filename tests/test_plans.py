"""Physical-plan assertions: the 100 TB-critical plan properties.

Correct rows are not enough — these tests pin the plan shape that makes
each query viable at scale: filters/projections reaching the parquet
scan, small dims broadcast (no sort-merge shuffle of the fact table),
map-side partial aggregation, top-N via TakeOrderedAndProject (never a
global sort), and the extraction pipeline staying a single Arrow stage
over a pruned 3-column scan.
"""

import contextlib
import io
import re

import pytest

from occular_ocr_spark import queries as Q

SF_DIR = "/root/testdata/sf0.001"


def plan_of(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def n_nodes(plan: str, name: str) -> int:
    """Count physical-plan nodes by their '(k) Name' detail headers (the
    tree rendering would double-count every node)."""
    return len(re.findall(rf"^\(\d+\) {name}\b", plan, flags=re.MULTILINE))


def test_scan_prune_pushdown_and_pruning(spark):
    p = plan_of(Q.q_scan_prune(spark, SF_DIR))
    # predicate reaches the parquet reader
    assert "PushedFilters" in p and "l_shipdate" in p.split("PushedFilters", 1)[1]
    # column pruning: only the 3 needed columns in ReadSchema
    read_schema = p.split("ReadSchema", 1)[1].splitlines()[0]
    assert "l_returnflag" in read_schema and "l_extendedprice" in read_schema
    assert "l_orderkey" not in read_schema and "l_comment" not in read_schema


@pytest.mark.parametrize("qname", ["join_broadcast", "multi_join"])
def test_dim_joins_broadcast(spark, qname):
    p = plan_of(Q.QUERIES[qname](spark, SF_DIR))
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p  # the fact table is never shuffled


def test_groupby_agg_is_partial(spark):
    p = plan_of(Q.q_groupby_agg(spark, SF_DIR))
    # map-side combine: a partial HashAggregate before the exchange and a
    # final one after it
    assert n_nodes(p, "HashAggregate") == 2
    assert "partial_sum" in p
    assert "hashpartitioning(l_returnflag" in p


def test_topn_never_global_sorts(spark):
    p = plan_of(Q.q_order_restore(spark, SF_DIR))
    assert "TakeOrderedAndProject" in p
    assert "Sort " not in p  # no global sort node


def test_extraction_plan_single_arrow_stage_pruned_scan(spark):
    from occular_ocr_spark.job import extract_detailed

    df = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        Q.F.col("doc_id").cast("string").alias("conv_id"),
        Q.F.lit(0).alias("turn_idx"),
        "text",
    )
    p = plan_of(extract_detailed(df, num_partitions=4, salt_buckets=2))
    # exactly one Python/Arrow eval stage, after one hash exchange
    assert n_nodes(p, "MapInArrow") + n_nodes(p, "ArrowEvalPython") == 1
    assert n_nodes(p, "Exchange") == 1
    # one code path: the source is read once and nothing is unioned
    assert n_nodes(p, "Union") == 0
    assert n_nodes(p, "Scan parquet") == 1
    # scan pruned to the 2 needed source columns (lang/source/n_chars never read)
    read_schema = p.split("ReadSchema", 1)[1].splitlines()[0]
    assert "doc_id" in read_schema and "text" in read_schema
    assert "n_chars" not in read_schema and "source" not in read_schema


def test_extraction_exchange_aqe_managed(spark):
    """num_partitions=0 -> column-only salted exchange: width comes from
    spark.sql.shuffle.partitions and AQE coalesces small inputs instead
    of fanning a few thousand rows across a pinned width (each tiny task
    pays Python-worker + Arrow setup).  The production setting for the
    flagship catalog entry — a pinned 32 would be wrong on a
    1000-executor cluster and wasteful at bench scale."""
    from occular_ocr_spark.job import extract_detailed

    df = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        Q.F.col("doc_id").cast("string").alias("conv_id"),
        (Q.F.col("doc_id") % 10).cast("int").alias("turn_idx"),
        "text",
    )
    out = extract_detailed(df, num_partitions=0, salt_buckets=4)
    # static plan: hash exchange on (conv_id, salt), no pinned width
    p = plan_of(out)
    assert "hashpartitioning(conv_id" in p and "pmod" in p
    assert len(out.collect()) > 0
    # final adaptive plan: the tiny shuffle was coalesced at runtime
    # (collect() drives this DataFrame's own queryExecution, so its
    # executedPlan is the finalized adaptive plan)
    final = out._jdf.queryExecution().executedPlan().toString()
    assert "AQEShuffleRead coalesced" in final


def test_exact_dedup_single_shuffle(spark):
    p = plan_of(Q.q_dedup_exact(spark, SF_DIR))
    # digest computed map-side, one exchange on the digest, partial agg
    assert n_nodes(p, "Exchange") == 1
    assert n_nodes(p, "HashAggregate") == 2


def test_map_side_text_metrics_zero_exchanges(spark):
    # lang_quality's shape: pure map-side arithmetic, NO shuffle at all
    p = plan_of(Q.QUERIES["quality_score"](spark, SF_DIR))
    assert n_nodes(p, "Exchange") == 0


def test_doc_fingerprint_map_side_plus_fanout_only(spark):
    """r6: the Python fingerprint kernel sits above the scale-adaptive
    fan-out (_spread) — on the 1-split local fixture that is ONE
    round-robin exchange (a no-op at scale), and nothing else: no
    aggregation exchange, no join."""
    p = plan_of(Q.QUERIES["doc_fingerprint"](spark, SF_DIR))
    assert n_nodes(p, "Exchange") <= 1
    assert "Join" not in p
    assert "hashpartitioning" not in p  # fan-out is round-robin


def test_embed_cosine_pair_join_is_shuffled_not_broadcast(spark):
    # the 100 TB contract: the pair join must NOT broadcast the corpus
    # side — only the O(K*dim) centroid table inside the quantizer may
    # broadcast; the pair scan is a shuffled hash join on
    # (centroid_id, sub-bucket)
    p = plan_of(Q.q_dedup_embed_cosine(spark, SF_DIR))
    assert "ShuffledHashJoin" in p
    join_section = p.split("ShuffledHashJoin", 1)[0]
    assert "BroadcastHashJoin" not in join_section
    # the only broadcasts anywhere are the centroid cross-join inputs
    assert n_nodes(p, "BroadcastHashJoin") == 0


def test_asof_join_single_shuffle_no_pair_explosion(spark):
    p = plan_of(Q.q_asof_join(spark, SF_DIR))
    # union + window forward-fill: no join node at all, one hash
    # exchange on user_id for the window
    assert "Join" not in p
    assert n_nodes(p, "Exchange") == 1
    assert "Window" in p


def test_kmeans_iteration_is_mapside_argmin_plus_partial_agg(spark):
    # the per-iteration 100 TB contract: argmin inside the scan stage
    # (ArrowEvalPython), means as a K-group partially-aggregated
    # groupBy — no crossJoin row expansion, no per-vector window
    p = plan_of(Q.QUERIES["kmeans_lloyd"](spark, SF_DIR))
    assert n_nodes(p, "ArrowEvalPython") >= 1
    assert "BroadcastNestedLoopJoin" not in p and "CartesianProduct" not in p
    assert "Window" not in p
    assert n_nodes(p, "HashAggregate") >= 2  # partial + final means


def test_dedup_groups_final_plan_is_checkpoint_scan(spark):
    # per-round localCheckpoint must truncate lineage: the returned
    # plan is a scan of the converged label map, not the unrolled
    # join-per-round chain
    p = plan_of(Q.QUERIES["dedup_groups"](spark, SF_DIR))
    assert "Join" not in p
    assert n_nodes(p, "Exchange") == 0


def test_cube_counts_expands_mapside_single_exchange(spark):
    # grouping sets run as map-side Expand + partial agg: the shuffle
    # carries set-level partials only
    p = plan_of(Q.QUERIES["cube_counts"](spark, SF_DIR))
    assert n_nodes(p, "Expand") == 1
    assert n_nodes(p, "Exchange") == 1


def test_set_ops_never_pairwise(spark):
    p = plan_of(Q.QUERIES["set_ops"](spark, SF_DIR))
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p


def test_multimodal_resize_zero_exchanges(spark):
    p = plan_of(Q.QUERIES["multimodal_resize"](spark, SF_DIR))
    assert n_nodes(p, "Exchange") == 0


def test_text_normalize_zero_exchanges(spark):
    """Normalization is one codegen stage: no shuffle anywhere."""
    p = plan_of(Q.QUERIES["text_normalize"](spark, SF_DIR))
    assert n_nodes(p, "Exchange") == 0
    assert "codegen id" in p  # the project runs inside whole-stage codegen


def test_length_histogram_partial_agg_single_exchange(spark):
    """Corpus reduces map-side to O(#buckets) partial rows."""
    p = plan_of(Q.QUERIES["length_histogram"](spark, SF_DIR))
    assert n_nodes(p, "Exchange") == 1
    assert n_nodes(p, "HashAggregate") == 2  # partial + final


def test_repetition_ratio_single_exchange_two_level_agg(spark):
    """(doc, tok) counts and the per-doc rollup share the doc_id key
    prefix: one exchange feeds both aggregation levels."""
    p = plan_of(Q.QUERIES["repetition_ratio"](spark, SF_DIR))
    assert n_nodes(p, "Exchange") == 1


def test_decontaminate_bench_side_broadcasts(spark):
    """The tiny eval shingle set broadcasts; the corpus is never
    shuffled for the probe join."""
    p = plan_of(Q.QUERIES["decontaminate"](spark, SF_DIR))
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_approx_distinct_uses_hll_partial_agg(spark):
    p = plan_of(Q.QUERIES["approx_distinct"](spark, SF_DIR))
    assert "approx_count_distinct" in p
    assert "partial_approx_count_distinct" in p  # map-side sketch merge


def test_group_quantiles_approx_partial_agg(spark):
    """The summaries partially aggregate map-side — the property that
    makes this the 100 TB quantile path (exact percentile cannot)."""
    p = plan_of(Q.QUERIES["group_quantiles_approx"](spark, SF_DIR))
    assert "partial_approx_percentile" in p


def test_embed_cosine_mp_same_join_shape_as_single_probe(spark):
    """Multi-probe keeps the sub-bucketed ShuffledHashJoin engine:
    broadcast stays O(K dim), never the corpus side."""
    p = plan_of(Q.QUERIES["dedup_embed_cosine_mp"](spark, SF_DIR))
    assert "ShuffledHashJoin" in p
    assert "BroadcastHashJoin" not in p
    assert "CartesianProduct" not in p


def test_ann_ivf_assign_is_mapside_no_window_shuffle(spark):
    """VERDICT r2 #2: assignment must be the numpy scan-stage argmin —
    no n*K crossJoin expansion, no per-vector window exchange."""
    p = plan_of(Q.QUERIES["ann_ivf_assign"](spark, SF_DIR))
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
    assert n_nodes(p, "Window") == 0
    assert "MapInPandas" in p or "ArrowEvalPython" in p


def test_inverted_index_single_token_shuffle(spark):
    """distinct (doc, tok) and the posting build hash-partition on
    compatible keys; no second full shuffle of the postings."""
    p = plan_of(Q.QUERIES["inverted_index"](spark, SF_DIR))
    assert n_nodes(p, "Exchange") <= 2  # (doc,tok) distinct + tok groupBy
    assert n_nodes(p, "Sort") <= 1  # array_sort is an expression, not a node


def test_pack_sequences_no_global_single_partition_window(spark):
    """The prefix sum must be the two-level block decomposition: the
    ONLY single-partition exchange is the tiny #blocks cumulative
    window; the per-doc window is hash-partitioned by block."""
    p = plan_of(Q.QUERIES["pack_sequences"](spark, SF_DIR))
    assert p.count("SinglePartition") == 1  # only the #blocks cumsum
    assert "hashpartitioning(blk" in p


def test_event_funnel_all_user_keyed_no_windows(spark):
    """Step matching is min-aggregates + joins on user_id — no event-
    time windows, no cartesian step pairing."""
    p = plan_of(Q.QUERIES["event_funnel"](spark, SF_DIR))
    assert n_nodes(p, "Window") == 0
    assert "CartesianProduct" not in p


def test_skew_join_salted_is_shuffled_hash_on_salted_key(spark):
    """The salt must actually reach the join: a shuffled (hash) join on
    the composite (key, salt) — not a broadcast that would make the
    salting a no-op — and no cartesian fallback."""
    p = plan_of(Q.QUERIES["skew_join_salted"](spark, SF_DIR))
    assert "ShuffledHashJoin" in p
    assert "BroadcastHashJoin" not in p
    assert "CartesianProduct" not in p
    # join keys include the salt column on both sides
    left_keys = re.search(r"Left keys \[\d+\]: \[[^\]]*\]", p).group(0)
    assert "salt" in left_keys


def test_sql_udf_extract_is_arrow_batched(spark):
    """The SQL-registered kernel runs as ONE Arrow-batched python eval
    (pandas UDF), not row-at-a-time BatchEvalPython."""
    p = plan_of(Q.QUERIES["sql_udf_extract"](spark, SF_DIR))
    assert "ArrowEvalPython" in p
    assert "BatchEvalPython" not in p


def test_incremental_extract_anti_join_before_extraction(spark):
    """The manifest filter is an anti-join upstream of the Arrow
    extraction stage: only the to-do remainder pays the Python pass."""
    p = plan_of(Q.QUERIES["incremental_extract"](spark, SF_DIR))
    assert "LeftAnti" in p
    # extraction stage present (mapInArrow/mapInPandas node)
    assert "MapInArrow" in p or "MapInPandas" in p or "ArrowEvalPython" in p


def test_snapshot_diff_joins_digests_not_payloads(spark):
    """The full-outer join carries (doc_id, md5) only — text is pruned
    out before the exchange."""
    p = plan_of(Q.QUERIES["snapshot_diff"](spark, SF_DIR))
    assert "FullOuter" in p or "full_outer" in p
    # every exchange in the diff carries digests, not raw text
    for chunk in re.findall(r"Arguments: hashpartitioning\([^\n]*", p):
        assert "text" not in chunk


def test_rolling_window_bucketed_decomposition(spark):
    """One hash exchange on (event_type, bucket) — the bounded-overlap
    decomposition, not a #types-parallelism global window — feeding the
    O(n log n) grouped kernel (no JVM RANGE frame, whose sliding
    re-aggregation is quadratic on dense frames), with the context-copy
    explode map-side before that single shuffle."""
    p = plan_of(Q.QUERIES["rolling_window"](spark, SF_DIR))
    assert n_nodes(p, "Exchange") == 1
    assert re.search(r"hashpartitioning\(event_type#\d+, bucket#\d+", p), p
    assert n_nodes(p, "Generate") == 1  # the 2-way explode
    assert "FlatMapGroupsInPandas" in p
    assert n_nodes(p, "Window") == 0


def test_bigram_pmi_in_array_bigrams_no_window(spark):
    """Bigrams are built in-array map-side: no per-token window shuffle;
    only vocabulary-sized aggregates and their joins exchange."""
    p = plan_of(Q.QUERIES["bigram_pmi"](spark, SF_DIR))
    assert n_nodes(p, "Window") == 0
    assert "CartesianProduct" not in p
    # the 1-row total rides a broadcast, never a shuffle
    assert "BroadcastNestedLoopJoin" in p or "BroadcastExchange" in p


def test_embed_quantize_int8_is_mapside_only(spark):
    """Quantization + integer dot product are one Arrow pass over the
    scan: zero exchanges anywhere."""
    p = plan_of(Q.QUERIES["embed_quantize_int8"](spark, SF_DIR))
    assert n_nodes(p, "Exchange") == 0
    assert "MapInPandas" in p


def test_train_test_split_no_join_single_agg_exchange(spark):
    """Group hash + split label are map-side; the only exchange is the
    final partial-agg groupBy(split)."""
    p = plan_of(Q.QUERIES["train_test_split"](spark, SF_DIR))
    assert "Join" not in p
    # distinct-count expands map-side; exchanges only for the aggregate
    assert n_nodes(p, "Exchange") <= 2


def test_chunk_documents_pure_mapside_explode(spark):
    """Chunk expansion is generate-over-scan: zero exchanges, zero
    Python, offsets carried through."""
    p = plan_of(Q.QUERIES["chunk_documents"](spark, SF_DIR))
    assert n_nodes(p, "Exchange") == 0
    assert n_nodes(p, "Generate") == 1
    assert "EvalPython" not in p and "MapInPandas" not in p


def test_heavy_hitters_cms_sketches_broadcast(spark):
    """The K fixed-width sketch tables broadcast (W=256 rows each); the
    token stream shuffles only for its own aggregates — no sort-merge
    join of the vocabulary against the sketch."""
    p = plan_of(Q.QUERIES["heavy_hitters_cms"](spark, SF_DIR))
    assert n_nodes(p, "BroadcastHashJoin") == 3
    assert "SortMergeJoin" not in p


def test_cohort_retention_exchange_reuse_on_user_id(spark):
    """The cohort-label rejoin shares the user_id partitioning with the
    min-aggregate that produced it: no extra exchange beyond the
    user_id shuffle and the final (cohort, offset) aggregate."""
    p = plan_of(Q.QUERIES["cohort_retention"](spark, SF_DIR))
    assert "CartesianProduct" not in p
    # exchanges: user_id (shared), final agg, (+ at most one AQE remnant)
    assert n_nodes(p, "Exchange") <= 3


def test_pagerank_iteration_shape(spark):
    """Each power iteration is edges⋈ranks + degree join on the same
    source key + a partial-agg sum per destination — no cartesian, no
    window, the N constant rides a 1-row broadcast."""
    p = plan_of(Q.QUERIES["pagerank_bipartite"](spark, SF_DIR))
    assert "CartesianProduct" not in p
    assert n_nodes(p, "Window") == 0
    assert "BroadcastNestedLoopJoin" in p or "BroadcastExchange" in p


def test_event_props_json_mapside_parse_single_exchange(spark):
    """from_json runs inside the scan stage; one partial-agg shuffle."""
    p = plan_of(Q.QUERIES["event_props_json"](spark, SF_DIR))
    assert n_nodes(p, "Exchange") == 1
    assert "EvalPython" not in p  # typed JVM parse, not a UDF


def test_sparse_retrieval_index_pruned_takeordered(spark):
    """Scoring joins only query-term postings (Q-row broadcast) and the
    cut is TakeOrdered — no global sort of the scored stream."""
    p = plan_of(Q.QUERIES["sparse_retrieval"](spark, SF_DIR))
    assert "BroadcastHashJoin" in p
    assert "TakeOrderedAndProject" in p
    assert "SortMergeJoin" not in p


def test_pii_redact_zero_exchanges(spark):
    """Inject + redact + digest run inside one codegen stage."""
    p = plan_of(Q.QUERIES["pii_redact"](spark, SF_DIR))
    assert n_nodes(p, "Exchange") == 0
    assert "EvalPython" not in p


def test_dup_span_report_digest_keyed_no_python(spark):
    """Window generation is a map-side Generate; frequency and join key
    on the md5 digest; everything stays JVM-side."""
    p = plan_of(Q.QUERIES["dup_span_report"](spark, SF_DIR))
    assert n_nodes(p, "Generate") >= 1
    assert "hashpartitioning(win_h" in p
    assert "EvalPython" not in p
    assert "CartesianProduct" not in p


def test_scrub_dup_spans_anti_join_no_python(spark):
    """Token filtering is a left-anti join on (doc_id, p); no Python,
    no cartesian expansion anywhere in the rewrite."""
    p = plan_of(Q.QUERIES["scrub_dup_spans"](spark, SF_DIR))
    assert "LeftAnti" in p
    assert "EvalPython" not in p
    assert "CartesianProduct" not in p


def test_unigram_logprob_vocab_broadcast(spark):
    """The vocab and the 1-row total broadcast onto the token stream;
    the only real shuffle is the per-doc mean."""
    p = plan_of(Q.QUERIES["unigram_logprob"](spark, SF_DIR))
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p
    assert "partial_avg" in p or "partial_count" in p


def test_quality_funnel_single_row_agg(spark):
    """All per-doc features fold in one map-side pass; the only
    exchange carries the 1-row partial aggregate."""
    p = plan_of(Q.QUERIES["quality_funnel"](spark, SF_DIR))
    assert n_nodes(p, "Exchange") == 1
    assert "SinglePartition" in p
    assert "EvalPython" not in p


def test_cdc_chunks_mapside_kernel_single_exchange(spark):
    """The rolling-hash chunker is one Arrow-batched kernel after the
    explicit repartition — no shuffle downstream, no per-row Python."""
    p = plan_of(Q.QUERIES["cdc_chunks"](spark, SF_DIR))
    assert "MapInPandas" in p
    assert n_nodes(p, "Exchange") == 1
    assert "BatchEvalPython" not in p


def test_profile_table_single_pass(spark):
    """All 28 statistics (incl. 4 exact NDVs via one shared Expand)
    fold in a single aggregation pass over ONE table scan."""
    p = plan_of(Q.QUERIES["profile_table"](spark, SF_DIR))
    assert "Expand" in p
    # exactly two exchanges: the exact-NDV stage hash-partitions on
    # the distinct-value columns (NDV-scaled — the honest cost of
    # EXACT countDistinct; approx_count_distinct is the 1-row swap),
    # then a SinglePartition merge of the 1-row finals.  NO fan-out
    # exchange: the profile's avg() over doubles is summation-order
    # sensitive at the rounded display digit (r6 sf0.01 sweep), so the
    # scan partitioning must stay as-is.
    assert n_nodes(p, "Exchange") == 2
    assert "hashpartitioning" in p and "SinglePartition" in p
    assert "EvalPython" not in p


def test_turn_structure_qa_one_exchange(spark):
    """Gaps-and-islands run detection + two aggregation levels all ride
    ONE conv_id exchange: the lag/running-sum windows hash-partition on
    conv_id, and both groupBys ((conv, run_id) then conv) reuse that
    partitioning — the repetition_ratio subset-clustering pattern."""
    p = plan_of(Q.QUERIES["turn_structure_qa"](spark, SF_DIR))
    assert n_nodes(p, "Exchange") == 1
    assert "hashpartitioning(conv_id" in p
    assert n_nodes(p, "Window") == 2  # lag + running sum
    assert "EvalPython" not in p


def test_context_windows_one_exchange(spark):
    """Chat-history packing shuffles each turn's text exactly once: one
    conv_id window exchange; the k-fold context duplication happens
    inside the window operator, not on the wire (the self-join
    formulation would shuffle k x the bytes)."""
    p = plan_of(Q.QUERIES["context_windows"](spark, SF_DIR))
    assert n_nodes(p, "Exchange") == 1
    assert "hashpartitioning(conv_id" in p
    assert n_nodes(p, "Window") == 1
    assert "EvalPython" not in p


def test_link_extract_mapside_regex(spark):
    """URL extraction is map-side JVM regex (Generate explode, no
    Python); the host rollup is the standard two-phase exact-distinct:
    exchanges on (host, doc_id) partial-deduped then host."""
    p = plan_of(Q.QUERIES["link_extract"](spark, SF_DIR))
    assert n_nodes(p, "Generate") == 1
    assert n_nodes(p, "Exchange") == 2
    assert "hashpartitioning(host" in p
    assert "EvalPython" not in p and "BatchEvalPython" not in p


def test_pack_sequences_sharded_one_shard_exchange(spark):
    """Shard-local sequence packing is shard-parallel: the running token
    sum is a per-shard window — ONE exchange on shard, no global sort,
    and the pack/offset arithmetic is map-side on top of the window."""
    p = plan_of(Q.QUERIES["pack_sequences_sharded"](spark, SF_DIR))
    assert n_nodes(p, "Exchange") == 1
    assert "hashpartitioning(shard" in p
    assert n_nodes(p, "Window") == 1
    assert "EvalPython" not in p


def test_loss_mask_spans_one_exchange(spark):
    """Loss-mask spans ride the same single conv_id window exchange as
    context_windows; the span arithmetic adds no shuffle and the
    assistant filter sits above the window (context needs all turns)."""
    p = plan_of(Q.QUERIES["loss_mask_spans"](spark, SF_DIR))
    assert n_nodes(p, "Exchange") == 1
    assert "hashpartitioning(conv_id" in p
    assert n_nodes(p, "Window") == 1
    assert "EvalPython" not in p


def test_tool_transitions_window_plus_bounded_agg(spark):
    """Step labels are a map-side CASE; lag rides one conv_id window
    exchange; the (prev, step) rollup's exchange is bounded-key after
    partial aggregation."""
    p = plan_of(Q.QUERIES["tool_transitions"](spark, SF_DIR))
    assert n_nodes(p, "Window") == 1
    assert "hashpartitioning(conv_id" in p
    assert "EvalPython" not in p


def test_conversation_dedup_ordered_digest(spark):
    """Conversation dedup digests turns IN ORDER inside one per-conv
    ObjectHashAggregate (array_sort of collected structs — no sort
    exchange); two exchanges total, both post-partial-agg."""
    p = plan_of(Q.QUERIES["conversation_dedup"](spark, SF_DIR))
    assert n_nodes(p, "Exchange") == 2
    assert "ObjectHashAggregate" in p
    assert "hashpartitioning(conv" in p
    assert "hashpartitioning(digest" in p
    assert "EvalPython" not in p


def test_zorder_cluster_pure_mapside(spark):
    """The Morton interleave is a codegen'd integer expression tree —
    zero exchanges, zero Python."""
    p = plan_of(Q.QUERIES["zorder_cluster"](spark, SF_DIR))
    assert n_nodes(p, "Exchange") == 0
    assert "* Project" in p  # codegen'd (starred) projection
    assert "EvalPython" not in p


# --------------------------------------------------------------------------
# round-4 entries
# --------------------------------------------------------------------------


def test_script_profile_single_exchange_partial_agg(spark):
    """Char-class counting is map-side arithmetic into a #langs-row
    partial agg: one exchange, two agg phases, no join, no Python."""
    p = plan_of(Q.QUERIES["script_profile"](spark, SF_DIR))
    assert n_nodes(p, "Exchange") == 1
    assert n_nodes(p, "HashAggregate") == 2
    assert "Join" not in p and "EvalPython" not in p


def test_context_truncate_single_conv_exchange(spark):
    """Reverse cumulative token sum: ONE exchange on conv_id feeding
    the window; token counting stays in the scan stage."""
    p = plan_of(Q.QUERIES["context_truncate"](spark, SF_DIR))
    assert n_nodes(p, "Exchange") == 1
    assert n_nodes(p, "Window") == 1
    assert "Join" not in p


def test_changelog_compact_single_key_exchange(spark):
    """Compaction is a pure reduce: the 3-way changelog union shuffles
    ONCE on the key; the rank filter is pushed into WindowGroupLimit so
    non-latest ops drop before the full window sort."""
    p = plan_of(Q.QUERIES["changelog_compact"](spark, SF_DIR))
    assert n_nodes(p, "Exchange") == 1
    assert n_nodes(p, "Union") == 1
    assert n_nodes(p, "WindowGroupLimit") >= 1  # rank<=1 pushdown
    assert "Join" not in p


def test_reply_latency_exchange_reuse(spark):
    """lead() window and the per-conv agg share the conv_id key: one
    exchange serves both."""
    p = plan_of(Q.QUERIES["reply_latency_stats"](spark, SF_DIR))
    assert n_nodes(p, "Exchange") == 1
    assert n_nodes(p, "Window") == 1


def test_ewma_joins_daily_series_not_raw_events(spark):
    """The 14x decay fan-out happens AFTER the daily partial agg — the
    Generate (explode) sits above a HashAggregate pair, so raw events
    are never replicated; the day-spine join broadcasts."""
    p = plan_of(Q.QUERIES["ewma_trailing"](spark, SF_DIR))
    assert n_nodes(p, "Generate") == 1
    assert n_nodes(p, "BroadcastHashJoin") == 1
    assert n_nodes(p, "SortMergeJoin") == 0
    assert "EvalPython" not in p


def test_dedup_incremental_capped_blocking_no_pairwise(spark):
    """New-vs-corpus candidates expand IN-ARRAY from the capped
    per-shingle doc-list: no cartesian product, no sort-merge pairwise
    join; size lookups broadcast."""
    p = plan_of(Q.QUERIES["dedup_incremental"](spark, SF_DIR))
    assert n_nodes(p, "CartesianProduct") == 0
    assert n_nodes(p, "SortMergeJoin") == 0
    assert n_nodes(p, "BroadcastHashJoin") >= 2


def test_blocking_eval_entries_no_pairwise(spark):
    """The eval harnesses reuse the capped blocking paths — nothing in
    either plan ever goes all-pairs."""
    for name in ("lsh_recall_eval", "minhash_est_error"):
        p = plan_of(Q.QUERIES[name](spark, SF_DIR))
        assert n_nodes(p, "CartesianProduct") == 0, name
        assert "BroadcastNestedLoopJoin" not in p, name


def test_score_deciles_two_level_rank_no_global_row_window(spark):
    """The global rank decomposes: the only unpartitioned frame is the
    #distinct-score prefix window; the row-shaped window is partitioned
    by score value.  The 1-row total joins via broadcast."""
    p = plan_of(Q.QUERIES["score_deciles"](spark, SF_DIR))
    assert n_nodes(p, "Window") == 2
    # the row-shaped window shuffles by the score VALUE, never globally
    assert "hashpartitioning(score" in p


def test_kfold_assign_mapside_single_exchange(spark):
    """Portable-hash fold arithmetic is row-local: one partial-agg
    exchange, no join, no Python."""
    p = plan_of(Q.QUERIES["kfold_assign"](spark, SF_DIR))
    assert n_nodes(p, "Exchange") == 1
    assert n_nodes(p, "HashAggregate") == 2
    assert "Join" not in p and "EvalPython" not in p


def test_hourly_profile_agg_before_window(spark):
    """Events collapse to the 24 x #types partial agg first; the peak
    window ranks those bounded groups, never raw events."""
    p = plan_of(Q.QUERIES["hourly_profile"](spark, SF_DIR))
    assert n_nodes(p, "Window") == 1
    assert n_nodes(p, "HashAggregate") >= 2
    assert "Join" not in p


def test_bigram_lm_in_array_bigrams_no_pairwise(spark):
    """Bigrams assemble in-array map-side (zip_with) — no self-join of
    the token stream, no cartesian product anywhere."""
    p = plan_of(Q.QUERIES["bigram_lm_logprob"](spark, SF_DIR))
    assert n_nodes(p, "CartesianProduct") == 0
    assert n_nodes(p, "Generate") >= 1
    assert "EvalPython" not in p


def test_threshold_sweep_reads_memoized_pairs(spark):
    """The sweep consumes the session-memoized verified-pairs table —
    the plan reads an InMemoryRelation, not a re-run of the
    minhash->verify chain."""
    p = plan_of(Q.QUERIES["dedup_threshold_sweep"](spark, SF_DIR))
    assert "InMemoryRelation" in p or "InMemoryTableScan" in p
    assert n_nodes(p, "CartesianProduct") == 0


def test_psi_drift_single_scan_bounded_window(spark):
    """PSI is one partial-agg pass; the window runs over <= 10 bin rows
    (bounded frame), and nothing joins or drops to Python."""
    p = plan_of(Q.QUERIES["psi_drift"](spark, SF_DIR))
    assert n_nodes(p, "HashAggregate") >= 2  # map-side partial + final
    assert "Join" not in p and "EvalPython" not in p
    assert n_nodes(p, "Window") == 1


def test_ks_statistic_two_level_prefix_sum(spark):
    """The ECDF cumsum is bucket-partitioned (never a global single-task
    window over raw values); bucket offsets broadcast back."""
    p = plan_of(Q.QUERIES["ks_statistic"](spark, SF_DIR))
    assert "hashpartitioning(bucket" in p  # within-bucket window shuffles by bucket
    assert n_nodes(p, "BroadcastHashJoin") == 1  # tiny offsets table broadcast
    assert n_nodes(p, "SortMergeJoin") == 0
    assert "EvalPython" not in p


def test_boilerplate_scrub_broadcast_totals(spark):
    """Sentence explode is map-side; the per-source totals (20 rows)
    broadcast — the corpus-sized side never sort-merge-shuffles."""
    p = plan_of(Q.QUERIES["boilerplate_scrub"](spark, SF_DIR))
    assert n_nodes(p, "Generate") >= 1  # explode(split(...))
    assert n_nodes(p, "BroadcastHashJoin") == 1
    assert n_nodes(p, "SortMergeJoin") == 0
    assert n_nodes(p, "CartesianProduct") == 0


def test_corr_matrix_single_pass_no_join(spark):
    """All 15 moment sums come from ONE partial-agg scan; the 6 pair
    rows are a Generate over the 1-row result."""
    p = plan_of(Q.QUERIES["corr_matrix"](spark, SF_DIR))
    assert n_nodes(p, "HashAggregate") == 2  # one partial + one final, one pass
    assert "Join" not in p and "EvalPython" not in p
    assert n_nodes(p, "Scan parquet") == 1


def test_domain_blocklist_broadcast_suffix_join(spark):
    """Suffix explode is map-side; the blocklist broadcasts — a plain
    BroadcastHashJoin, never a LIKE-shaped nested loop."""
    p = plan_of(Q.QUERIES["domain_blocklist"](spark, SF_DIR))
    assert n_nodes(p, "Generate") == 1
    assert n_nodes(p, "BroadcastHashJoin") == 1
    assert n_nodes(p, "BroadcastNestedLoopJoin") == 0
    assert n_nodes(p, "CartesianProduct") == 0


def test_zscore_outliers_broadcast_stats_one_fact_scan(spark):
    """Per-type stats (bounded keys) broadcast back onto the event
    stream; flagging is map-side on the fact scan."""
    p = plan_of(Q.QUERIES["zscore_outliers"](spark, SF_DIR))
    assert n_nodes(p, "BroadcastHashJoin") == 1
    assert n_nodes(p, "SortMergeJoin") == 0
    assert "EvalPython" not in p


def test_preference_pairs_grouped_window_no_self_join(spark):
    """r6 two-level rank: a bounded prefix window over the compressed
    (source, score) counts plus a row_number window partitioned by
    (source, score) — never a full-rank window keyed by source alone
    (fixed cardinality; VERDICT r5 #1); the prefix attaches via a
    broadcast join and the pairing stays a groupBy — no self-join of
    the ranked stream, no shuffle join anywhere."""
    p = plan_of(Q.QUERIES["preference_pairs"](spark, SF_DIR))
    assert n_nodes(p, "Window") == 2
    assert "hashpartitioning(source" in p
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p and "EvalPython" not in p


def test_padding_waste_single_pass_bounded_keys(spark):
    """Bucketing is map-side bit arithmetic into one partial agg over
    log2-many keys — one scan, no joins, no Python."""
    p = plan_of(Q.QUERIES["padding_waste"](spark, SF_DIR))
    assert n_nodes(p, "HashAggregate") == 2
    assert n_nodes(p, "Scan parquet") == 1
    assert "Join" not in p and "EvalPython" not in p


def test_dataset_card_stats_two_aggs_one_join(spark):
    """Hash counts + per-source rollup: two partial-agg stages around
    one hash-keyed join; no Python, no cartesian."""
    p = plan_of(Q.QUERIES["dataset_card_stats"](spark, SF_DIR))
    assert n_nodes(p, "HashAggregate") >= 4  # partial+final x two aggs
    assert n_nodes(p, "CartesianProduct") == 0
    assert "EvalPython" not in p


def test_cross_dedup_sources_bounded_blocking_join(spark):
    """The self-join runs on per-(hash, source) COUNTS (fan-out bounded
    by source cardinality), never on the raw doc stream."""
    p = plan_of(Q.QUERIES["cross_dedup_sources"](spark, SF_DIR))
    assert n_nodes(p, "CartesianProduct") == 0
    assert "EvalPython" not in p
    # the join inputs are aggregated: at least one HashAggregate on
    # each side before the join
    assert n_nodes(p, "HashAggregate") >= 4


def test_gopher_rules_map_side_flags_one_exchange(spark):
    """All four Gopher gates evaluate map-side in one projection; the
    only exchange is the bounded per-source partial agg."""
    p = plan_of(Q.QUERIES["gopher_rules"](spark, SF_DIR))
    assert n_nodes(p, "Exchange") == 1
    assert n_nodes(p, "HashAggregate") == 2  # partial + final
    assert "Join" not in p and "EvalPython" not in p


def test_ngram_diversity_two_level_agg_no_window(spark):
    """Trigrams assemble map-side (no window, no self-join); the
    (source, trigram) partial agg is the only row-scaled exchange and
    the source rollup reuses its partitioning."""
    p = plan_of(Q.QUERIES["ngram_diversity"](spark, SF_DIR))
    assert n_nodes(p, "Window") == 0
    assert "Join" not in p and "EvalPython" not in p
    assert n_nodes(p, "Exchange") <= 2
    assert "hashpartitioning(source" in p


def test_discounted_returns_single_window_one_exchange(spark):
    """The 8 lead() taps share one WindowExec over one conv_id
    exchange; the weighted dyadic sum is a map-side projection."""
    p = plan_of(Q.QUERIES["discounted_returns"](spark, SF_DIR))
    assert n_nodes(p, "Window") == 1
    assert n_nodes(p, "Exchange") == 1
    assert "hashpartitioning(conv_id" in p
    assert "Join" not in p and "EvalPython" not in p


def test_bradley_terry_bounded_iteration_no_cartesian(spark):
    """The corpus-sized work is the adjacent-pair equi-join; MM
    iterations run on the S x S pair frame via broadcast joins — no
    cartesian product, ratings joins broadcast."""
    p = plan_of(Q.QUERIES["bradley_terry"](spark, SF_DIR))
    assert "CartesianProduct" not in p
    assert "BroadcastHashJoin" in p


def test_quantile_normalize_two_level_rank_and_hash_join(spark):
    """Global rank decomposes as in score_deciles (within-value window
    partitioned by v); the rank->value mapping is a hash equi-join on
    the integer rank, never a range join or global per-row window."""
    p = plan_of(Q.QUERIES["quantile_normalize"](spark, SF_DIR))
    assert "hashpartitioning(v" in p
    assert "CartesianProduct" not in p
    # the k = g mapping compiles to a real equi-join on the rank key
    # (the only nested-loop join in the plan is the 1-row total cross)
    assert re.search(r"Left keys \[1\]: \[k#", p)


def test_ndcg_eval_index_pruned_broadcast_query_side(spark):
    """Scoring touches only query-term postings: the Q-row term list
    broadcasts; the ranking window partitions per term."""
    p = plan_of(Q.QUERIES["ndcg_eval"](spark, SF_DIR))
    assert "BroadcastHashJoin" in p
    assert "hashpartitioning(tok" in p
    assert "CartesianProduct" not in p


def test_label_propagation_edge_joins_no_cartesian(spark):
    """Each round is an edge-labels hash join + vote agg + per-node
    rank window partitioned by dst — nothing quadratic."""
    p = plan_of(Q.QUERIES["label_propagation"](spark, SF_DIR))
    assert "CartesianProduct" not in p
    assert "hashpartitioning(dst" in p


def test_k_anonymity_partial_agg_bounded_keys(spark):
    """Both rollups are partial-aggregated groupBys over the bounded
    QI key space; no window, no Python."""
    p = plan_of(Q.QUERIES["k_anonymity"](spark, SF_DIR))
    assert n_nodes(p, "Window") == 0
    assert "BatchEvalPython" not in p and "ArrowEval" not in p
    assert "CartesianProduct" not in p


def test_chi_square_grid_broadcast_no_row_scaled_crossjoin(spark):
    """The R x C grid assembles from broadcast level-set joins; the
    only cross joins carry 1-row or level-set-sized frames."""
    p = plan_of(Q.QUERIES["chi_square_independence"](spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p
