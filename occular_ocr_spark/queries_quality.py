"""Corpus-quality catalog, round 4 (wave 6): three operators the
filtering / reporting side of a pretraining-data platform runs —

* ``gopher_rules`` — the published Gopher repetition-free quality
  gates (Rae et al. 2021, "Scaling Language Models", Appendix A1.1)
  as a per-source report: word-count bounds, mean-word-length bounds,
  alphabetic-word ratio, stopword presence.  Every threshold is
  evaluated by integer cross-multiplication (``4*n <= sum_len`` rather
  than ``sum_len/n >= 4.0``) so the keep/fail decision is bit-exact on
  both engines with no float division anywhere in the gate.
* ``ngram_diversity`` — per-source distinct-trigram ratio (the
  self-repetition / templated-content signal used to down-weight
  boilerplate-heavy sources): word trigrams assemble map-side from the
  token array, then a two-level partial agg (``(source, trigram)`` →
  ``source``) counts distinct vs total.
* ``discounted_returns`` — RL-style credit assignment over agent
  transcripts: the horizon-8, gamma = 1/2 discounted return of each
  turn.  Returns are computed in DYADIC FIXED POINT (``ret_x128 =
  sum 2^(7-j) * reward_{t+j}`` — pure 64-bit integers), so the float
  surface ``ret = ret_x128 / 128.0`` is an exact dyadic rational and
  bit-identical across engines; no float accumulation order exists to
  diverge.

House contract: DuckDB value-hash oracle with identical aliases,
self-registration into queries.QUERIES / ORACLES on import, semantics
tests plus physical-plan assertions in tests/.

Reference parity: axis-B net-new corpus ops (the reference
Bodhi42/Occular-ocr engine is per-document OCR only; SURVEY.md §2,
"LLM-data pipeline ops").  ``gopher_rules`` is the document-level
sibling of the transcript-level ``turn_structure_qa`` gate
(queries_transcript.py); ``discounted_returns`` extends the
``reply_latency_stats`` / ``tool_transitions`` trajectory family.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from . import queries as _q
from .pipeline_e2e import (
    _GR_ALPHA_DEN,
    _GR_ALPHA_NUM,
    _GR_MAX_WORDS,
    _GR_MIN_STOP,
    _GR_MIN_WORDS,
    _GR_MWL_HI,
    _GR_MWL_LO,
    _GR_STOPWORDS,
)
from .queries import _t
from .queries_transcript import _ORACLE_TURNS, _turns

# ---------------------------------------------------------------------------
# gopher_rules
# ---------------------------------------------------------------------------


def q_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source Gopher-gate report: docs, kept, and per-rule failure
    counts (word-count bounds / mean-word-length bounds / alphabetic
    ratio / stopword presence).

    Every comparison is integer cross-multiplication — e.g. mean word
    length in [4, 10] is ``4*n <= sum_len AND sum_len <= 10*n`` — so
    there is NO float division in any keep decision and the report is
    bit-exact by construction.

    Plan: one scan; the token array, per-word filters, and all four
    flags evaluate map-side inside a single projection; the only
    exchange is the bounded-key (one row per source) partial agg.
    At 100 TB this is the embarrassingly-parallel shape: zero
    row-scaled shuffles, report size = |sources|.
    """
    d = _t(spark, sf_dir, "documents")
    stop_hits = " + ".join(
        f"CAST(array_contains(ws, '{s}') AS INT)" for s in _GR_STOPWORDS
    )
    flagged = d.select(
        "source",
        F.expr("filter(split(coalesce(text, ''), ' '), w -> w <> '')").alias(
            "ws"
        ),
    ).select(
        "source",
        F.expr("CAST(size(ws) AS BIGINT)").alias("n"),
        F.expr(
            "aggregate(ws, 0L, (acc, w) -> acc + CAST(length(w) AS BIGINT))"
        ).alias("sum_len"),
        F.expr(
            "CAST(size(filter(ws, w -> w rlike '[A-Za-z]')) AS BIGINT)"
        ).alias("n_alpha"),
        F.expr(f"CAST({stop_hits} AS BIGINT)").alias("stop_hits"),
    )
    ok_count = (F.col("n") >= _GR_MIN_WORDS) & (F.col("n") <= _GR_MAX_WORDS)
    ok_mwl = (
        (F.col("n") > 0)
        & (F.lit(_GR_MWL_LO) * F.col("n") <= F.col("sum_len"))
        & (F.col("sum_len") <= F.lit(_GR_MWL_HI) * F.col("n"))
    )
    ok_alpha = (F.col("n") > 0) & (
        F.lit(_GR_ALPHA_DEN) * F.col("n_alpha")
        >= F.lit(_GR_ALPHA_NUM) * F.col("n")
    )
    ok_stop = F.col("stop_hits") >= _GR_MIN_STOP
    keep = ok_count & ok_mwl & ok_alpha & ok_stop
    as_fail = lambda ok: F.sum(  # noqa: E731
        F.when(ok, F.lit(0)).otherwise(F.lit(1))
    ).cast("bigint")
    agg = flagged.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(F.when(keep, 1).otherwise(0)).cast("bigint").alias("kept"),
        as_fail(ok_count).alias("fail_word_count"),
        as_fail(ok_mwl).alias("fail_mean_word_len"),
        as_fail(ok_alpha).alias("fail_alpha_ratio"),
        as_fail(ok_stop).alias("fail_stopwords"),
    )
    return agg.select(
        "source",
        "n_docs",
        "kept",
        "fail_word_count",
        "fail_mean_word_len",
        "fail_alpha_ratio",
        "fail_stopwords",
        F.round(F.col("kept") / F.col("n_docs"), 6).alias("kept_ratio"),
    )


_GR_STOP_SQL = " + ".join(
    f"CAST(list_contains(ws, '{s}') AS INT)" for s in _GR_STOPWORDS
)

ORACLE_GOPHER_RULES = f"""
WITH toks AS (
  SELECT source,
         list_filter(string_split(coalesce(text, ''), ' '),
                     w -> w <> '') AS ws
  FROM documents),
flags AS (
  SELECT source,
         CAST(len(ws) AS BIGINT) AS n,
         CAST(coalesce(list_sum(list_transform(ws, w -> len(w))), 0)
              AS BIGINT) AS sum_len,
         CAST(len(list_filter(ws, w -> regexp_matches(w, '[A-Za-z]')))
              AS BIGINT) AS n_alpha,
         CAST({_GR_STOP_SQL} AS BIGINT) AS stop_hits
  FROM toks),
ok AS (
  SELECT source,
         (n >= {_GR_MIN_WORDS} AND n <= {_GR_MAX_WORDS}) AS ok_count,
         (n > 0 AND {_GR_MWL_LO} * n <= sum_len
                AND sum_len <= {_GR_MWL_HI} * n) AS ok_mwl,
         (n > 0 AND {_GR_ALPHA_DEN} * n_alpha
                    >= {_GR_ALPHA_NUM} * n) AS ok_alpha,
         (stop_hits >= {_GR_MIN_STOP}) AS ok_stop
  FROM flags)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN ok_count AND ok_mwl AND ok_alpha AND ok_stop
                     THEN 1 ELSE 0 END) AS BIGINT) AS kept,
       CAST(sum(CASE WHEN ok_count THEN 0 ELSE 1 END) AS BIGINT)
         AS fail_word_count,
       CAST(sum(CASE WHEN ok_mwl THEN 0 ELSE 1 END) AS BIGINT)
         AS fail_mean_word_len,
       CAST(sum(CASE WHEN ok_alpha THEN 0 ELSE 1 END) AS BIGINT)
         AS fail_alpha_ratio,
       CAST(sum(CASE WHEN ok_stop THEN 0 ELSE 1 END) AS BIGINT)
         AS fail_stopwords,
       round(CAST(sum(CASE WHEN ok_count AND ok_mwl AND ok_alpha AND ok_stop
                           THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6)
         AS kept_ratio
FROM ok GROUP BY source
"""


# ---------------------------------------------------------------------------
# ngram_diversity
# ---------------------------------------------------------------------------


def q_ngram_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source word-trigram diversity: distinct trigrams / total
    trigrams — the templated-content signal (a source full of
    boilerplate repeats the same trigrams; diverse prose doesn't).

    Plan: trigrams assemble MAP-SIDE from the split-token array as an
    ``arrays_zip`` of three shifted slices — deliberately NOT a
    higher-order ``transform(sequence(...), lambda)``: lambda
    expressions run INTERPRETED (outside whole-stage codegen), and on
    the explode hot path that measured 8x slower than this
    codegen-friendly shape (the trigram string itself concatenates
    AFTER the explode, inside the codegen span).  Then the standard
    two-level distinct shape: partial-agg groupBy ``(source, trigram)``
    followed by a bounded ``source`` rollup.  At 100 TB the first agg
    is the only row-scaled exchange and it map-side combines; the
    rollup reuses its partitioning (hashpartitioning on a prefix key
    serves the superset — the house repetition_ratio pattern).
    """
    d = _t(spark, sf_dir, "documents")
    z = d.select(
        "source",
        F.expr("filter(split(coalesce(text, ''), ' '), w -> w <> '')").alias(
            "ws"
        ),
    ).select(
        "source",
        # row j of the zip = (ws[j], ws[j+1], ws[j+2]); greatest(…, 0)
        # guards docs shorter than 3 words to an empty zip
        F.expr(
            "arrays_zip(slice(ws, 1, greatest(size(ws) - 2, 0)), "
            "slice(ws, 2, greatest(size(ws) - 2, 0)), "
            "slice(ws, 3, greatest(size(ws) - 2, 0)))"
        ).alias("z"),
    )
    per_tri = (
        z.select("source", F.explode("z").alias("t"))
        .select(
            "source",
            F.concat_ws(
                " ", F.col("t")["0"], F.col("t")["1"], F.col("t")["2"]
            ).alias("trigram"),
        )
        .groupBy("source", "trigram")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    agg = per_tri.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("distinct_trigrams"),
        F.sum("cnt").cast("bigint").alias("total_trigrams"),
    )
    return agg.select(
        "source",
        "distinct_trigrams",
        "total_trigrams",
        F.round(
            F.col("distinct_trigrams") / F.col("total_trigrams"), 6
        ).alias("diversity"),
    )


ORACLE_NGRAM_DIVERSITY = """
WITH toks AS (
  SELECT source,
         list_filter(string_split(coalesce(text, ''), ' '),
                     w -> w <> '') AS ws
  FROM documents),
tris AS (
  SELECT source,
         unnest([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
                 for i in range(1, greatest(len(ws) - 1, 1))]) AS trigram
  FROM toks),
per_tri AS (
  SELECT source, trigram, count(*) AS cnt FROM tris GROUP BY 1, 2)
SELECT source,
       CAST(count(*) AS BIGINT) AS distinct_trigrams,
       CAST(sum(cnt) AS BIGINT) AS total_trigrams,
       round(CAST(count(*) AS DOUBLE) / sum(cnt), 6) AS diversity
FROM per_tri GROUP BY source
"""


# ---------------------------------------------------------------------------
# discounted_returns
# ---------------------------------------------------------------------------

_DR_HORIZON = 8  # lookahead turns; gamma = 1/2, so weight_j = 2^(7-j)


def q_discounted_returns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-turn discounted return over agent trajectories: reward =
    turn text length, ``G_t = sum_{{j<8}} (1/2)^j * r_{{t+j}}`` within
    each conversation.

    The trick that makes this gate-able: returns are computed in
    DYADIC FIXED POINT — ``ret_x128 = sum 2^(7-j) * r_{{t+j}}`` is pure
    64-bit integer arithmetic, and the float surface
    ``ret = ret_x128 / 128.0`` is an exact dyadic rational, so both
    engines produce bit-identical doubles with no accumulation-order
    hazard (the house ewma_trailing convention, taken to full
    exactness).

    Plan: ONE exchange — the 8 ``lead()`` taps share a single window
    (hash-partitioned on conv_id, ordered by turn_idx), so Spark
    evaluates them in one WindowExec over one shuffle; the weighted
    sum is a map-side projection.  At 100 TB the input is already
    Iceberg-bucketed by hash(conv_id) (the north rule's layout) and
    the window becomes a local sort.  Reuses the deterministic
    transcript synthesis shared by the queries_transcript family.
    """
    t = _turns(spark, sf_dir).select(
        "conv_id",
        "turn_idx",
        "role",
        F.length(F.coalesce(F.col("text"), F.lit(""))).cast("bigint").alias(
            "reward"
        ),
    )
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    ret = None
    for j in range(_DR_HORIZON):
        weight = 1 << (_DR_HORIZON - 1 - j)
        tap = F.coalesce(
            F.lead("reward", j).over(w) if j else F.col("reward"),
            F.lit(0),
        )
        term = F.lit(weight) * tap
        ret = term if ret is None else ret + term
    out = t.withColumn("ret_x128", ret.cast("bigint"))
    return out.select(
        "conv_id",
        "turn_idx",
        "role",
        "reward",
        "ret_x128",
        (F.col("ret_x128") / F.lit(float(1 << (_DR_HORIZON - 1)))).alias(
            "ret"
        ),
    )


_DR_TAPS_SQL = " + ".join(
    (
        f"{1 << (_DR_HORIZON - 1 - j)} * coalesce(lead(reward, {j}) "
        "OVER (PARTITION BY conv_id ORDER BY turn_idx), 0)"
        if j
        else f"{1 << (_DR_HORIZON - 1)} * reward"
    )
    for j in range(_DR_HORIZON)
)

ORACLE_DISCOUNTED_RETURNS = f"""
WITH turns AS ({_ORACLE_TURNS}),
r AS (
  SELECT conv_id, turn_idx, role,
         CAST(len(coalesce(text, '')) AS BIGINT) AS reward
  FROM turns),
fx AS (
  SELECT conv_id, turn_idx, role, reward,
         CAST({_DR_TAPS_SQL} AS BIGINT) AS ret_x128
  FROM r)
SELECT conv_id, turn_idx, role, reward, ret_x128,
       ret_x128 / {float(1 << (_DR_HORIZON - 1))} AS ret
FROM fx
"""


# ---------------------------------------------------------------------------
# registration
# ---------------------------------------------------------------------------

# ---------------------------------------------------------------------------
# token_entropy — per-source Shannon entropy of the token distribution
# ---------------------------------------------------------------------------


def q_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source token-distribution statistics: Shannon entropy in
    nats (H = ln N − Σ y·ln y / N — the exact-integer-count form, no
    per-token probability ever materializes), normalized entropy
    H/ln V, type and token counts, and the hapax-legomena share —
    together the dataset-card "is this slice natural language or
    template spam" panel (templated text shows low normalized entropy
    and a collapsed hapax share; natural text sits near Zipf).

    Scale: one tokenize into a (source, token) partial agg; entropy
    needs only Σ y·ln y per source — a rollup of those counts (ln on
    exact BIGINT-valued doubles, identical on both engines); no
    window, no join beyond the bounded per-source frame.  Surfaces
    round half-up at 6.
    """
    tf = (
        _t(spark, sf_dir, "documents")
        .select("source", F.explode(F.split("text", " ")).alias("tok"))
        .where(F.col("tok") != "")
        .groupBy("source", "tok")
        .agg(F.count("*").alias("y"))
    )
    agg = tf.groupBy("source").agg(
        F.sum("y").cast("bigint").alias("n_tokens"),
        F.count("*").cast("bigint").alias("n_types"),
        F.sum(F.col("y") * F.log(F.col("y").cast("double"))).alias("sylny"),
        F.sum((F.col("y") == 1).cast("bigint")).alias("n_hapax"),
    )
    h = F.log(F.col("n_tokens").cast("double")) - F.col("sylny") / F.col(
        "n_tokens"
    )
    return agg.select(
        "source",
        "n_tokens",
        "n_types",
        "n_hapax",
        F.round(h, 6).alias("entropy_nats"),
        F.round(h / F.log(F.col("n_types").cast("double")), 6).alias(
            "entropy_norm"
        ),
        (
            F.expr("(2000000 * n_hapax + n_types) DIV (2 * n_types)")
            / 1000000.0
        ).alias("hapax_share"),
    )


ORACLE_TOKEN_ENTROPY = """
WITH tf AS (
  SELECT source, tok, count(*) AS y
  FROM (SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents)
  WHERE tok <> '' GROUP BY source, tok),
agg AS (
  SELECT source,
         CAST(sum(y) AS BIGINT) AS n_tokens,
         CAST(count(*) AS BIGINT) AS n_types,
         sum(y * ln(CAST(y AS DOUBLE))) AS sylny,
         CAST(sum(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax
  FROM tf GROUP BY source)
SELECT source, n_tokens, n_types, n_hapax,
       round(ln(CAST(n_tokens AS DOUBLE)) - sylny / n_tokens, 6)
         AS entropy_nats,
       round((ln(CAST(n_tokens AS DOUBLE)) - sylny / n_tokens)
             / ln(CAST(n_types AS DOUBLE)), 6) AS entropy_norm,
       ((2000000 * n_hapax + n_types) // (2 * n_types)) / 1000000.0
         AS hapax_share
FROM agg
"""


# ---------------------------------------------------------------------------
# zipf_fit — least-squares Zipf slope over the per-source top ranks
# ---------------------------------------------------------------------------

_ZIPF_TOPN = 100  # ranks fitted (the Zipfian head)


def q_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit per source: OLS slope of ln(freq) on ln(rank)
    over the top-_ZIPF_TOPN token ranks, with r² — natural language
    sits near slope ≈ −1; template/boilerplate spam bends the head of
    the curve, making this the corpus-health twin of
    ``ngram_diversity`` that looks at the DISTRIBUTION, not the text.

    Scale: the rank window partitions per source over the top-N frame
    only (rank > N is filtered by the same window's row_number — never
    a global sort); the OLS reduces to five partial-agg moment sums of
    (ln rank, ln freq) per source — exactly the ``corr_matrix``
    one-row-of-sums shape.  Determinism: ranks are integers (freq
    desc, token tie-break), and the log coordinates QUANTIZE to exact
    integer micro-units before any sum — float moment sums are
    accumulation-order-sensitive, exact BIGINT sums are not (the
    corr_matrix doctrine; products stay < 2^63 since |ln| ≤ ln(freq)
    and N is a constant).  The fit is then row-local IEEE math on one
    row of exact integers, rounded half-up at 6.
    """
    tf = (
        _t(spark, sf_dir, "documents")
        .select("source", F.explode(F.split("text", " ")).alias("tok"))
        .where(F.col("tok") != "")
        .groupBy("source", "tok")
        .agg(F.count("*").alias("y"))
    )
    w = Window.partitionBy("source").orderBy(F.col("y").desc(), "tok")
    ranked = (
        tf.withColumn("r", F.row_number().over(w))
        .where(F.col("r") <= _ZIPF_TOPN)
        .select(
            "source",
            F.expr(
                "CAST(floor(ln(CAST(r AS DOUBLE)) * 1000000 + 0.5) AS BIGINT)"
            ).alias("x"),
            F.expr(
                "CAST(floor(ln(CAST(y AS DOUBLE)) * 1000000 + 0.5) AS BIGINT)"
            ).alias("yv"),
        )
    )
    m = ranked.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("yv").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("yv") * F.col("yv")).alias("syy"),
        F.sum(F.col("x") * F.col("yv")).alias("sxy"),
    )
    # every moment casts to DOUBLE before arithmetic: BIGINT products
    # would overflow int64 in Spark (ANSI error) but promote to
    # HUGEINT in DuckDB (exact) — divergent unless both trees are IEEE
    nD = F.col("n").cast("double")
    sx = F.col("sx").cast("double")
    sy = F.col("sy").cast("double")
    sxx = F.col("sxx").cast("double")
    syy = F.col("syy").cast("double")
    sxy = F.col("sxy").cast("double")
    cov = nD * sxy - sx * sy
    varx = nD * sxx - sx * sx
    vary = nD * syy - sy * sy
    return m.select(
        "source",
        F.col("n").alias("n_ranks"),
        F.round(cov / varx, 6).alias("zipf_slope"),
        F.round(cov * cov / (varx * vary), 6).alias("r2"),
    )


ORACLE_ZIPF_FIT = f"""
WITH tf AS (
  SELECT source, tok, count(*) AS y
  FROM (SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents)
  WHERE tok <> '' GROUP BY source, tok),
ranked AS (
  SELECT source,
         CAST(floor(ln(CAST(row_number() OVER w AS DOUBLE)) * 1000000 + 0.5)
              AS BIGINT) AS x,
         CAST(floor(ln(CAST(y AS DOUBLE)) * 1000000 + 0.5) AS BIGINT) AS yv,
         row_number() OVER w AS r
  FROM tf
  WINDOW w AS (PARTITION BY source ORDER BY y DESC, tok)
  QUALIFY r <= {_ZIPF_TOPN}),
m AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(yv) AS BIGINT) AS sy,
         CAST(sum(x * x) AS BIGINT) AS sxx,
         CAST(sum(yv * yv) AS BIGINT) AS syy,
         CAST(sum(x * yv) AS BIGINT) AS sxy
  FROM ranked GROUP BY source),
d AS (
  SELECT source, n,
         CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
           - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) AS cov,
         CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
           - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS varx,
         CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
           - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) AS vary
  FROM m)
SELECT source, n AS n_ranks,
       round(cov / varx, 6) AS zipf_slope,
       round(cov * cov / (varx * vary), 6) AS r2
FROM d
"""


# ---------------------------------------------------------------------------
# gini_concentration
# ---------------------------------------------------------------------------


def q_gini_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source Gini coefficient of the token-frequency distribution
    — the inequality summary of ``token_entropy``'s diagnostics (a
    source where a handful of tokens carry most of the mass is
    templated/boilerplate; diverse prose sits lower).

    Classic sorted-vector Gini, G = (2·Σ i·x_(i) − (n+1)·Σ x) / (n·Σ x)
    with x ascending and i = 1..n — computed WITHOUT ranking the
    vocabulary: tokens are compressed to the (source, count) histogram
    first, and within a tie block every ordering yields the same
    Σ i·x_(i) (all tied x equal), so the block contributes
    c · (m·offset + m(m+1)/2) where m is the block size and offset the
    prefix count of smaller counts.  The only window is the per-source
    prefix sum over DISTINCT COUNT VALUES — the compressed domain
    (≪ vocabulary), the ``group_quantiles_dist`` two-pass histogram
    trick.  All terms are exact integers promoted to DECIMAL(38,0);
    G is one IEEE division rounded to 6.

    Scale: two-level partial agg (source, tok) → (source, cnt), a
    bounded compressed-domain window, a bounded-key final agg.  The
    vocabulary itself is never sorted, never windowed, never
    collected.
    """
    tf = (
        _t(spark, sf_dir, "documents")
        .select("source", F.explode(F.split("text", " ")).alias("tok"))
        .where(F.col("tok") != "")
        .groupBy("source", "tok")
        .agg(F.count("*").alias("cnt"))
    )
    hist = tf.groupBy("source", "cnt").agg(
        F.count("*").cast("bigint").alias("m")
    )
    w = (
        Window.partitionBy("source")
        .orderBy("cnt")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    blocks = hist.select(
        "source",
        F.col("cnt").cast("decimal(38,0)").alias("c"),
        F.col("m").cast("decimal(38,0)").alias("m"),
        F.coalesce(F.sum("m").over(w), F.lit(0))
        .cast("decimal(38,0)")
        .alias("off"),
    )
    agg = blocks.groupBy("source").agg(
        F.sum("m").alias("n"),
        F.sum(F.col("c") * F.col("m")).alias("sx"),
        # six2 = 2·Σ i·x_(i): the identity is premultiplied by 2 so no
        # division (dialect-divergent on DECIMAL) appears anywhere
        F.sum(
            F.col("c")
            * (
                F.lit(2) * F.col("m") * F.col("off")
                + F.col("m") * (F.col("m") + 1)
            )
        ).alias("six2"),
    )
    return agg.select(
        "source",
        F.col("n").cast("bigint").alias("n_tokens_distinct"),
        F.col("sx").cast("bigint").alias("total_count"),
        F.round(
            (F.col("six2") - (F.col("n") + 1) * F.col("sx")).cast("double")
            / (F.col("n") * F.col("sx")).cast("double"),
            6,
        ).alias("gini"),
    )


ORACLE_GINI_CONCENTRATION = """
WITH tf AS (
  SELECT source, tok, count(*) AS cnt
  FROM (SELECT source, unnest(string_split(text, ' ')) AS tok
        FROM documents)
  WHERE tok <> '' GROUP BY source, tok),
hist AS (
  SELECT source, cnt, CAST(count(*) AS BIGINT) AS m
  FROM tf GROUP BY source, cnt),
blocks AS (
  SELECT source,
         CAST(cnt AS DECIMAL(38,0)) AS c,
         CAST(m AS DECIMAL(38,0)) AS m,
         CAST(coalesce(sum(m) OVER (PARTITION BY source ORDER BY cnt
                                    ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND 1 PRECEDING), 0)
              AS DECIMAL(38,0)) AS off
  FROM hist),
agg AS (
  SELECT source,
         sum(m) AS n,
         sum(c * m) AS sx,
         sum(c * (2 * m * off + m * (m + 1))) AS six2
  FROM blocks GROUP BY source)
SELECT source,
       CAST(n AS BIGINT) AS n_tokens_distinct,
       CAST(sx AS BIGINT) AS total_count,
       round(CAST(six2 - (n + 1) * sx AS DOUBLE)
             / CAST(n * sx AS DOUBLE), 6) AS gini
FROM agg
"""


# ---------------------------------------------------------------------------
# simpson_diversity / hhi_source_concentration — concentration indices
# ---------------------------------------------------------------------------


def q_simpson_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source Simpson index of the token-frequency distribution:
    D = Σ n_i(n_i−1) / (N(N−1)) — the probability two tokens drawn
    without replacement are the same type — plus the 1−D diversity.
    The ecology-standard companion to ``token_entropy`` (order-2 vs
    order-1 Rényi) and ``gini_concentration`` (tail vs head
    sensitivity): Simpson is dominated by the heaviest types, so a
    template flood moves it before it moves entropy.

    Numerator and denominator are EXACT integers (DECIMAL(38,0)
    promoted — n_i(n_i−1) sums overflow int64 near 10^10 tokens), so
    both surfaced numbers are one IEEE division each, rounded at the
    surface.

    Scale: the same two-level partial agg as token_entropy — (source,
    tok) → source — zero windows, zero joins; output is |sources|
    rows.
    """
    tf = (
        _t(spark, sf_dir, "documents")
        .select("source", F.explode(F.split("text", " ")).alias("tok"))
        .where(F.col("tok") != "")
        .groupBy("source", "tok")
        .agg(F.count("*").cast("decimal(38,0)").alias("c"))
    )
    agg = tf.groupBy("source").agg(
        F.sum("c").alias("n"),
        F.sum(F.col("c") * (F.col("c") - 1)).alias("rep"),
    )
    return agg.select(
        "source",
        F.col("n").cast("bigint").alias("total_count"),
        F.round(
            F.col("rep").cast("double")
            / (F.col("n") * (F.col("n") - 1)).cast("double"),
            6,
        ).alias("simpson"),
        F.round(
            F.lit(1.0)
            - F.col("rep").cast("double")
            / (F.col("n") * (F.col("n") - 1)).cast("double"),
            6,
        ).alias("diversity"),
    )


ORACLE_SIMPSON_DIVERSITY = """
WITH tf AS (
  SELECT source, tok, CAST(count(*) AS DECIMAL(38,0)) AS c
  FROM (SELECT source, unnest(string_split(text, ' ')) AS tok
        FROM documents)
  WHERE tok <> '' GROUP BY source, tok),
agg AS (
  SELECT source, sum(c) AS n, sum(c * (c - 1)) AS rep
  FROM tf GROUP BY source)
SELECT source,
       CAST(n AS BIGINT) AS total_count,
       round(CAST(rep AS DOUBLE) / CAST(n * (n - 1) AS DOUBLE), 6)
         AS simpson,
       round(1.0 - CAST(rep AS DOUBLE) / CAST(n * (n - 1) AS DOUBLE), 6)
         AS diversity
FROM agg
"""


def q_hhi_source_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl–Hirschman index of corpus concentration across
    sources: HHI = Σ (n_i/N)² plus the k-normalized form
    (k·Σn_i² − N²)/(N²·(k−1)) ∈ [0, 1] — the one-number answer to
    "is this corpus dominated by a single source?" that the mixture
    entries (``domain_mix_weights``, ``mixture_temperature``) exist
    to correct.

    All terms are exact integers (DECIMAL(38,0) promoted); both
    surfaced indices are single IEEE divisions.  Degenerate k = 1
    pins hhi_normalized = 1.0 on both engines.

    Scale: one bounded-key partial agg (per-source counts) and a
    1-row rollup.
    """
    per_src = (
        _t(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(F.count("*").cast("decimal(38,0)").alias("n_i"))
    )
    agg = per_src.groupBy().agg(
        F.count("*").cast("decimal(38,0)").alias("k"),
        F.sum("n_i").alias("n"),
        F.sum(F.col("n_i") * F.col("n_i")).alias("sq"),
    )
    return agg.select(
        F.col("k").cast("bigint").alias("n_sources"),
        F.col("n").cast("bigint").alias("n_docs"),
        F.round(
            F.col("sq").cast("double") / (F.col("n") * F.col("n")).cast("double"), 6
        ).alias("hhi"),
        F.when(F.col("k") == 1, F.lit(1.0))
        .otherwise(
            F.round(
                (F.col("k") * F.col("sq") - F.col("n") * F.col("n")).cast(
                    "double"
                )
                / (F.col("n") * F.col("n") * (F.col("k") - 1)).cast("double"),
                6,
            )
        )
        .alias("hhi_normalized"),
    )


ORACLE_HHI_SOURCE_CONCENTRATION = """
WITH per_src AS (
  SELECT source, CAST(count(*) AS DECIMAL(38,0)) AS n_i
  FROM documents GROUP BY source),
agg AS (
  SELECT CAST(count(*) AS DECIMAL(38,0)) AS k,
         sum(n_i) AS n, sum(n_i * n_i) AS sq
  FROM per_src)
SELECT CAST(k AS BIGINT) AS n_sources,
       CAST(n AS BIGINT) AS n_docs,
       round(CAST(sq AS DOUBLE) / CAST(n * n AS DOUBLE), 6) AS hhi,
       CASE WHEN k = 1 THEN 1.0
            ELSE round(CAST(k * sq - n * n AS DOUBLE)
                       / CAST(n * n * (k - 1) AS DOUBLE), 6)
       END AS hhi_normalized
FROM agg
"""


QUALITY_QUERIES = {
    "gopher_rules": q_gopher_rules,
    "ngram_diversity": q_ngram_diversity,
    "discounted_returns": q_discounted_returns,
    "token_entropy": q_token_entropy,
    "zipf_fit": q_zipf_fit,
    "gini_concentration": q_gini_concentration,
    "simpson_diversity": q_simpson_diversity,
    "hhi_source_concentration": q_hhi_source_concentration,
}

QUALITY_ORACLES = {
    "gopher_rules": ORACLE_GOPHER_RULES,
    "ngram_diversity": ORACLE_NGRAM_DIVERSITY,
    "discounted_returns": ORACLE_DISCOUNTED_RETURNS,
    "token_entropy": ORACLE_TOKEN_ENTROPY,
    "zipf_fit": ORACLE_ZIPF_FIT,
    "gini_concentration": ORACLE_GINI_CONCENTRATION,
    "simpson_diversity": ORACLE_SIMPSON_DIVERSITY,
    "hhi_source_concentration": ORACLE_HHI_SOURCE_CONCENTRATION,
}

_q.QUERIES.update(QUALITY_QUERIES)
_q.ORACLES.update(QUALITY_ORACLES)
