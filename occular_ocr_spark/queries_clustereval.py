"""Cluster-evaluation & planning catalog, round 4 (wave 48): five
operators spanning the extrinsic-clustering-quality, signature-QA,
experiment-planning, multi-rater-agreement, and positional-lexical
surfaces —

* ``bcubed_eval`` — B³ precision/recall/F1 of the production near-dup
  clustering (``dedup_groups``: MinHash-LSH candidates → exact-Jaccard
  verify → min-label CC) against the exact-duplicate truth partition
  (md5 of text): per-(cluster, truth) cell terms m²/|C| and m²/|T|
  micro-quantize before the sums.  The extrinsic companion to
  ``rand_index`` (which compares two cheap label columns) — this one
  grades the real dedup pipeline.
* ``simhash_bit_balance`` — per-bit balance audit of the 16-bit
  SimHash fingerprints (``dedup_simhash``): a healthy signature has
  every bit near 50% ones; heavy bias means that bit carries no
  entropy and the Hamming-band blocking degrades.  Per-bit ones
  share, absolute deviation, and the χ²-vs-uniform contribution.
* ``power_analysis`` — two-proportion sample-size planning: the n per
  arm needed to detect the observed en-rate gap between the two
  largest sources at α = 0.05 / power = 0.8 (z constants as exact
  literals; the classic pooled-variance formula, row-local on exact
  counts).  The experiment-design companion to ``welch_ttest`` /
  ``cuped_adjustment``.
* ``kendalls_w`` — Kendall's coefficient of concordance across three
  rankers of the top-``_KW_K`` corpus tokens (by term frequency,
  document frequency, and token length; deterministic (metric, tok)
  tie-breaks — the strict-rank variant, documented):
  W = Σ(2R_i − 3(n+1))² / (3·(n³−n)) — exact integers end to end.
  The multi-rater companion to ``rbo_rankings`` (pairwise).
* ``token_position_profile`` — where tokens sit inside documents, by
  log₂ document-frequency bucket: mean relative position (micro-
  quantized per occurrence before the sums) and the front-quarter
  share.  Boilerplate lives at the front; content spreads — the
  positional companion to ``boilerplate_scrub``.

House contract: DuckDB value-hash oracle with identical aliases,
self-registration into queries.QUERIES / ORACLES on import, semantics
tests plus physical-plan assertions in tests/test_clustereval_wave.py.

Cross-engine float policy (the corr_matrix / zipf_fit doctrine):
B³ cell terms and relative positions micro-quantize before sums;
``kendalls_w`` is integer-exact; ``power_analysis`` is one row-local
IEEE expression on four exact counts; bit shares use the integer
round-half-up division.  The log₂ DF bucket evaluates one identical
double expression per type on both engines.

Scale notes: ``bcubed_eval`` reuses the production CC labels (joins
keyed on labels, cells bounded by #clusters×#truth overlap);
``simhash_bit_balance`` is a 16× explode over the fingerprint table;
``kendalls_w`` ranks inside a constant top-``_KW_K`` frame;
``power_analysis`` reduces a #sources frame; the position profile is
a map-side posexplode + one bounded-key agg.

Reference parity: axis-B net-new corpus ops (the reference
Bodhi42/Occular-ocr engine is per-document OCR only; SURVEY.md §2,
"LLM-data pipeline ops").
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from . import queries as _q
from . import queries_ext as _qe
from .queries import _t

# Kendall's W top-token frame size.
_KW_K = 50

# two-proportion z constants: alpha=0.05 two-sided, power=0.8
_Z_ALPHA = 1.959963984540054
_Z_BETA = 0.8416212335729143

# token-position DF bucket cap (log2 buckets 0..cap)
_TP_CAP = 7


# ---------------------------------------------------------------------------
# bcubed_eval — B-cubed of dedup_groups vs the exact-duplicate truth
# ---------------------------------------------------------------------------


def q_bcubed_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B³ of the near-dup CC labels against md5-of-text truth.

    precision = (1/N)·Σ_cells m²/|cluster|, recall with |truth|; per-
    cell terms micro-quantized before the sums; F1 from the two
    rounded means.

    Scale: the CC chain is the production labeling; afterwards two
    label-keyed joins over (cluster, truth) cells — never a pairwise
    materialization.
    """
    labels = _qe.q_dedup_groups(spark, sf_dir)
    truth = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.md5(F.coalesce("text", F.lit(""))).alias("th"),
    )
    cells = (
        labels.join(truth, "doc_id")
        .groupBy("group_id", "th")
        .agg(F.count("*").cast("bigint").alias("m"))
    )
    csz = cells.groupBy("group_id").agg(
        F.sum("m").cast("bigint").alias("sz_c")
    )
    tsz = cells.groupBy("th").agg(F.sum("m").cast("bigint").alias("sz_t"))
    terms = (
        cells.join(csz, "group_id")
        .join(tsz, "th")
        .select(
            "m",
            F.expr(
                "CAST(floor(CAST(m AS DOUBLE) * m / sz_c * 1e6 + 0.5)"
                " AS BIGINT)"
            ).alias("p_u"),
            F.expr(
                "CAST(floor(CAST(m AS DOUBLE) * m / sz_t * 1e6 + 0.5)"
                " AS BIGINT)"
            ).alias("r_u"),
        )
    )
    counts = cells.groupBy().agg(
        F.countDistinct("group_id").cast("bigint").alias("n_clusters"),
        F.countDistinct("th").cast("bigint").alias("n_truth_classes"),
    )
    agg = terms.groupBy().agg(
        F.sum("m").cast("bigint").alias("n_docs"),
        F.sum("p_u").cast("bigint").alias("ps"),
        F.sum("r_u").cast("bigint").alias("rs"),
    )
    return (
        agg.crossJoin(F.broadcast(counts))
        .select(
            "n_docs",
            "n_clusters",
            "n_truth_classes",
            F.expr(
                "CAST(floor(CAST(ps AS DOUBLE) / n_docs + 0.5) AS BIGINT)"
                " / 1e6"
            ).alias("precision"),
            F.expr(
                "CAST(floor(CAST(rs AS DOUBLE) / n_docs + 0.5) AS BIGINT)"
                " / 1e6"
            ).alias("recall"),
        )
        .select(
            "n_docs",
            "n_clusters",
            "n_truth_classes",
            "precision",
            "recall",
            F.expr(
                """
                CASE WHEN precision + recall = 0 THEN 0.0 ELSE
                  CAST(floor(2.0 * precision * recall
                    / (precision + recall) * 1e6 + 0.5) AS BIGINT) / 1e6
                END
                """
            ).alias("f1"),
        )
    )


ORACLE_BCUBED_EVAL = f"""
WITH labels AS ({_q.ORACLE_DEDUP_GROUPS}),
truth AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         md5(coalesce(text, '')) AS th
  FROM documents),
cells AS (
  SELECT group_id, th, CAST(count(*) AS BIGINT) AS m
  FROM labels JOIN truth USING (doc_id)
  GROUP BY 1, 2),
csz AS (
  SELECT group_id, CAST(sum(m) AS BIGINT) AS sz_c
  FROM cells GROUP BY 1),
tsz AS (
  SELECT th, CAST(sum(m) AS BIGINT) AS sz_t FROM cells GROUP BY 1),
terms AS (
  SELECT m,
         CAST(floor(CAST(m AS DOUBLE) * m / sz_c * 1e6 + 0.5) AS BIGINT)
           AS p_u,
         CAST(floor(CAST(m AS DOUBLE) * m / sz_t * 1e6 + 0.5) AS BIGINT)
           AS r_u
  FROM cells JOIN csz USING (group_id) JOIN tsz USING (th)),
counts AS (
  SELECT CAST(count(DISTINCT group_id) AS BIGINT) AS n_clusters,
         CAST(count(DISTINCT th) AS BIGINT) AS n_truth_classes
  FROM cells),
agg AS (
  SELECT CAST(sum(m) AS BIGINT) AS n_docs,
         CAST(sum(p_u) AS BIGINT) AS ps,
         CAST(sum(r_u) AS BIGINT) AS rs
  FROM terms),
mid AS (
  SELECT n_docs, n_clusters, n_truth_classes,
         CAST(floor(CAST(ps AS DOUBLE) / n_docs + 0.5) AS BIGINT) / 1e6
           AS precision,
         CAST(floor(CAST(rs AS DOUBLE) / n_docs + 0.5) AS BIGINT) / 1e6
           AS recall
  FROM agg, counts)
SELECT n_docs, n_clusters, n_truth_classes, precision, recall,
       CASE WHEN precision + recall = 0 THEN 0.0 ELSE
         CAST(floor(2.0 * precision * recall / (precision + recall)
           * 1e6 + 0.5) AS BIGINT) / 1e6
       END AS f1
FROM mid
"""


# ---------------------------------------------------------------------------
# simhash_bit_balance — per-bit entropy audit of the fingerprints
# ---------------------------------------------------------------------------


def q_simhash_bit_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ones share per fingerprint bit, |share − 0.5| deviation, and
    the per-bit χ² contribution (2n·(share−0.5)²·2 = (ones−zeros)²/n).

    Scale: the fingerprint table (one row per doc) exploded 16×, one
    per-bit partial agg.
    """
    sh = _q.q_dedup_simhash(spark, sf_dir)
    per = (
        sh.select(
            F.explode(F.expr("sequence(0, 15)")).alias("bit"),
            "simhash",
        )
        .groupBy("bit")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum(F.expr("shiftright(simhash, CAST(bit AS INT)) % 2"))
            .cast("bigint")
            .alias("ones"),
        )
    )
    return per.select(
        "bit",
        "n_docs",
        "ones",
        F.expr("(2000000 * ones + n_docs) DIV (2 * n_docs) / 1e6").alias(
            "ones_share"
        ),
        F.expr(
            """
            CAST(floor(abs(CAST(ones AS DOUBLE) / n_docs - 0.5) * 1e6
              + 0.5) AS BIGINT) / 1e6
            """
        ).alias("abs_dev"),
        F.expr(
            """
            CAST(floor(CAST(2 * ones - n_docs AS DOUBLE)
              * (2 * ones - n_docs) / n_docs * 1e6 + 0.5) AS BIGINT)
              / 1e6
            """
        ).alias("chi2_term"),
    ).orderBy("bit")


ORACLE_SIMHASH_BIT_BALANCE = f"""
WITH sh AS ({_q.ORACLE_DEDUP_SIMHASH}),
per AS (
  SELECT bit, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum((simhash >> bit) % 2) AS BIGINT) AS ones
  FROM sh CROSS JOIN (SELECT unnest(range(16)) AS bit)
  GROUP BY bit)
SELECT bit, n_docs, ones,
       (2000000 * ones + n_docs) // (2 * n_docs) / 1e6 AS ones_share,
       CAST(floor(abs(CAST(ones AS DOUBLE) / n_docs - 0.5) * 1e6 + 0.5)
         AS BIGINT) / 1e6 AS abs_dev,
       CAST(floor(CAST(2 * ones - n_docs AS DOUBLE)
         * (2 * ones - n_docs) / n_docs * 1e6 + 0.5) AS BIGINT) / 1e6
         AS chi2_term
FROM per ORDER BY bit
"""


# ---------------------------------------------------------------------------
# power_analysis — sample size for the top-2 source en-rate gap
# ---------------------------------------------------------------------------


def q_power_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """n per arm to detect the observed en-rate difference between the
    two largest sources (α = 0.05 two-sided, power = 0.8):

        n = (z_α·√(2p̄q̄) + z_β·√(p₁q₁ + p₂q₂))² / Δ²

    Row-local on four exact counts; Δ = 0 reports n_per_arm = 0.

    Scale: one per-source agg, a rank window over the #sources frame,
    one 2-row pivot.
    """
    per = (
        _t(spark, sf_dir, "documents")
        .groupBy(F.coalesce("source", F.lit("")).alias("source"))
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum((F.col("lang") == "en").cast("bigint"))
            .cast("bigint")
            .alias("e"),
        )
    )
    wr = Window.orderBy(F.col("n").desc(), "source")
    top2 = per.withColumn("rk", F.row_number().over(wr)).where(
        F.col("rk") <= 2
    )
    one = top2.groupBy().agg(
        F.max(F.expr("CASE WHEN rk = 1 THEN source END")).alias("source_a"),
        F.max(F.expr("CASE WHEN rk = 2 THEN source END")).alias("source_b"),
        F.max(F.expr("CASE WHEN rk = 1 THEN n END"))
        .cast("bigint")
        .alias("n_a"),
        F.max(F.expr("CASE WHEN rk = 2 THEN n END"))
        .cast("bigint")
        .alias("n_b"),
        F.max(F.expr("CASE WHEN rk = 1 THEN e END"))
        .cast("bigint")
        .alias("e_a"),
        F.max(F.expr("CASE WHEN rk = 2 THEN e END"))
        .cast("bigint")
        .alias("e_b"),
    )
    return one.select(
        "source_a",
        "source_b",
        "n_a",
        "n_b",
        F.expr(
            "CAST(floor(CAST(e_a AS DOUBLE) / n_a * 1e6 + 0.5) AS BIGINT)"
            " / 1e6"
        ).alias("p_a"),
        F.expr(
            "CAST(floor(CAST(e_b AS DOUBLE) / n_b * 1e6 + 0.5) AS BIGINT)"
            " / 1e6"
        ).alias("p_b"),
        F.expr(
            """
            CAST(floor(abs(CAST(e_a AS DOUBLE) / n_a
              - CAST(e_b AS DOUBLE) / n_b) * 1e6 + 0.5) AS BIGINT) / 1e6
            """
        ).alias("delta"),
        F.expr(
            f"""
            CASE WHEN CAST(e_a AS DOUBLE) / n_a = CAST(e_b AS DOUBLE) / n_b
              THEN CAST(0 AS BIGINT) ELSE
              CAST(ceil(
                pow({_Z_ALPHA}
                  * sqrt(2.0 * ((CAST(e_a AS DOUBLE) + e_b) / (n_a + n_b))
                         * (1.0 - (CAST(e_a AS DOUBLE) + e_b) / (n_a + n_b)))
                + {_Z_BETA}
                  * sqrt(CAST(e_a AS DOUBLE) / n_a
                           * (1.0 - CAST(e_a AS DOUBLE) / n_a)
                         + CAST(e_b AS DOUBLE) / n_b
                           * (1.0 - CAST(e_b AS DOUBLE) / n_b)), 2)
                / pow(CAST(e_a AS DOUBLE) / n_a
                      - CAST(e_b AS DOUBLE) / n_b, 2)
              ) AS BIGINT)
            END
            """
        ).alias("n_per_arm"),
    )


ORACLE_POWER_ANALYSIS = f"""
WITH per AS (
  SELECT coalesce(source, '') AS source,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT)
           AS e
  FROM documents GROUP BY 1),
top2 AS (
  SELECT source, n, e,
         row_number() OVER (ORDER BY n DESC, source) AS rk
  FROM per QUALIFY rk <= 2),
one AS (
  SELECT max(CASE WHEN rk = 1 THEN source END) AS source_a,
         max(CASE WHEN rk = 2 THEN source END) AS source_b,
         CAST(max(CASE WHEN rk = 1 THEN n END) AS BIGINT) AS n_a,
         CAST(max(CASE WHEN rk = 2 THEN n END) AS BIGINT) AS n_b,
         CAST(max(CASE WHEN rk = 1 THEN e END) AS BIGINT) AS e_a,
         CAST(max(CASE WHEN rk = 2 THEN e END) AS BIGINT) AS e_b
  FROM top2)
SELECT source_a, source_b, n_a, n_b,
       CAST(floor(CAST(e_a AS DOUBLE) / n_a * 1e6 + 0.5) AS BIGINT)
         / 1e6 AS p_a,
       CAST(floor(CAST(e_b AS DOUBLE) / n_b * 1e6 + 0.5) AS BIGINT)
         / 1e6 AS p_b,
       CAST(floor(abs(CAST(e_a AS DOUBLE) / n_a
         - CAST(e_b AS DOUBLE) / n_b) * 1e6 + 0.5) AS BIGINT) / 1e6
         AS delta,
       CASE WHEN CAST(e_a AS DOUBLE) / n_a = CAST(e_b AS DOUBLE) / n_b
         THEN CAST(0 AS BIGINT) ELSE
         CAST(ceil(
           pow({_Z_ALPHA}
             * sqrt(2.0 * ((CAST(e_a AS DOUBLE) + e_b) / (n_a + n_b))
                    * (1.0 - (CAST(e_a AS DOUBLE) + e_b) / (n_a + n_b)))
           + {_Z_BETA}
             * sqrt(CAST(e_a AS DOUBLE) / n_a
                      * (1.0 - CAST(e_a AS DOUBLE) / n_a)
                    + CAST(e_b AS DOUBLE) / n_b
                      * (1.0 - CAST(e_b AS DOUBLE) / n_b)), 2)
           / pow(CAST(e_a AS DOUBLE) / n_a
                 - CAST(e_b AS DOUBLE) / n_b, 2)
         ) AS BIGINT)
       END AS n_per_arm
FROM one
"""


# ---------------------------------------------------------------------------
# kendalls_w — concordance of three token rankers
# ---------------------------------------------------------------------------


def q_kendalls_w(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall's W across rankings of the top-``_KW_K`` tokens by term
    frequency, document frequency, and token length (strict ranks,
    deterministic (metric, tok) tie-breaks — documented variant).

        W = Σ(2R_i − 3(n+1))² / (3·(n³ − n))

    Integer-exact end to end.

    Scale: one (token, doc) partial agg, one bounded top-K, three
    rank windows over the constant K-row frame.
    """
    # _spread before the token explode + distinct-doc partial agg
    # (single local split otherwise; no-op at scale — guide §2.5):
    # sf1 wall time halves (2.88 s -> 1.35 s) for ~0.2 s of local
    # fan-out cost
    per = (
        _q._spread(_t(spark, sf_dir, "documents").select("doc_id", "text"))
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "filter(split(coalesce(text, ''), ' '), x -> x <> '')"
                )
            ).alias("tok"),
        )
        .groupBy("tok")
        .agg(
            F.count("*").cast("bigint").alias("tf"),
            F.countDistinct("doc_id").cast("bigint").alias("df"),
        )
    )
    top = per.orderBy(F.col("tf").desc(), "tok").limit(_KW_K)
    r1 = Window.orderBy(F.col("tf").desc(), "tok")
    r2 = Window.orderBy(F.col("df").desc(), "tok")
    r3 = Window.orderBy(F.expr("length(tok)").desc(), F.col("tok"))
    ranked = top.select(
        F.row_number().over(r1).cast("bigint").alias("rk1"),
        F.row_number().over(r2).cast("bigint").alias("rk2"),
        F.row_number().over(r3).cast("bigint").alias("rk3"),
        F.count("*").over(Window.partitionBy()).cast("bigint").alias("nn"),
    )
    agg = ranked.groupBy().agg(
        F.count("*").cast("bigint").alias("n_items"),
        F.sum(
            F.expr(
                "(2 * (rk1 + rk2 + rk3) - 3 * (nn + 1))"
                " * (2 * (rk1 + rk2 + rk3) - 3 * (nn + 1))"
            )
        )
        .cast("bigint")
        .alias("s4"),
    )
    return agg.select(
        "n_items",
        "s4",
        F.expr(
            """
            CASE WHEN n_items < 2 THEN 0.0 ELSE
              CAST(floor(CAST(s4 AS DOUBLE)
                / (3.0 * (CAST(n_items AS DOUBLE) * n_items * n_items
                          - n_items)) * 1e6 + 0.5) AS BIGINT) / 1e6
            END
            """
        ).alias("w"),
    )


ORACLE_KENDALLS_W = f"""
WITH per AS (
  SELECT tok, CAST(count(*) AS BIGINT) AS tf,
         CAST(count(DISTINCT doc_id) AS BIGINT) AS df
  FROM (SELECT doc_id,
               unnest(list_filter(string_split(coalesce(text, ''), ' '),
                                  x -> x <> '')) AS tok
        FROM documents)
  GROUP BY tok),
top AS (
  SELECT * FROM per ORDER BY tf DESC, tok LIMIT {_KW_K}),
ranked AS (
  SELECT CAST(row_number() OVER (ORDER BY tf DESC, tok) AS BIGINT)
           AS rk1,
         CAST(row_number() OVER (ORDER BY df DESC, tok) AS BIGINT)
           AS rk2,
         CAST(row_number() OVER (ORDER BY length(tok) DESC, tok)
           AS BIGINT) AS rk3,
         CAST(count(*) OVER () AS BIGINT) AS nn
  FROM top),
agg AS (
  SELECT CAST(count(*) AS BIGINT) AS n_items,
         CAST(sum((2 * (rk1 + rk2 + rk3) - 3 * (nn + 1))
                * (2 * (rk1 + rk2 + rk3) - 3 * (nn + 1)))
           AS BIGINT) AS s4
  FROM ranked)
SELECT n_items, s4,
       CASE WHEN n_items < 2 THEN 0.0 ELSE
         CAST(floor(CAST(s4 AS DOUBLE)
           / (3.0 * (CAST(n_items AS DOUBLE) * n_items * n_items
                     - n_items)) * 1e6 + 0.5) AS BIGINT) / 1e6
       END AS w
FROM agg
"""


# ---------------------------------------------------------------------------
# token_position_profile — positional distribution by DF bucket
# ---------------------------------------------------------------------------


def q_token_position_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean relative in-doc position and front-quarter share per
    log₂(document-frequency) bucket (capped at ``_TP_CAP``): relative
    positions micro-quantize per occurrence before the per-bucket
    sums.  Docs with < 2 tokens contribute nothing (relative position
    undefined).

    Scale: one map-side posexplode, one (token, doc) DF agg, one
    token-keyed join, one ≤``_TP_CAP``+1-row report.
    """
    occ = (
        _t(spark, sf_dir, "documents")
        .select(
            F.expr(
                "filter(split(coalesce(text, ''), ' '), x -> x <> '')"
            ).alias("arr")
        )
        .where(F.expr("size(arr) >= 2"))
        .select(
            F.posexplode("arr").alias("pos", "tok"),
            F.expr("size(arr)").cast("bigint").alias("len"),
        )
        .select(
            "tok",
            F.expr(
                "CAST(floor(CAST(pos AS DOUBLE) / (len - 1) * 1e6 + 0.5)"
                " AS BIGINT)"
            ).alias("relq"),
        )
    )
    dfs = (
        _t(spark, sf_dir, "documents")
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "filter(split(coalesce(text, ''), ' '), x -> x <> '')"
                )
            ).alias("tok"),
        )
        .groupBy("tok")
        .agg(F.countDistinct("doc_id").cast("bigint").alias("df"))
        .select(
            "tok",
            F.expr(
                f"least(CAST(floor(ln(CAST(df AS DOUBLE)) / ln(2.0))"
                f" AS BIGINT), {_TP_CAP})"
            ).alias("df_bucket"),
        )
    )
    return (
        occ.join(dfs, "tok")
        .groupBy("df_bucket")
        .agg(
            F.count("*").cast("bigint").alias("n_occurrences"),
            F.sum("relq").cast("bigint").alias("s1"),
            F.sum(F.expr("CASE WHEN relq < 250000 THEN 1 ELSE 0 END"))
            .cast("bigint")
            .alias("front"),
        )
        .select(
            "df_bucket",
            "n_occurrences",
            F.expr(
                "(2 * s1 + n_occurrences) DIV (2 * n_occurrences) / 1e6"
            ).alias("mean_rel_pos"),
            F.expr(
                "(2000000 * front + n_occurrences)"
                " DIV (2 * n_occurrences) / 1e6"
            ).alias("front_share"),
        )
        .orderBy("df_bucket")
    )


ORACLE_TOKEN_POSITION_PROFILE = f"""
WITH arrs AS (
  SELECT list_filter(string_split(coalesce(text, ''), ' '),
                     x -> x <> '') AS arr
  FROM documents),
occ AS (
  SELECT tok,
         CAST(floor(CAST(pos - 1 AS DOUBLE) / (len(arr) - 1) * 1e6
           + 0.5) AS BIGINT) AS relq
  FROM (SELECT arr, unnest(arr) AS tok,
               unnest(range(1, len(arr) + 1)) AS pos
        FROM arrs WHERE len(arr) >= 2)),
dfs AS (
  SELECT tok,
         least(CAST(floor(ln(CAST(count(DISTINCT doc_id) AS DOUBLE))
             / ln(2.0)) AS BIGINT), {_TP_CAP}) AS df_bucket
  FROM (SELECT doc_id,
               unnest(list_filter(string_split(coalesce(text, ''), ' '),
                                  x -> x <> '')) AS tok
        FROM documents)
  GROUP BY tok)
SELECT df_bucket,
       CAST(count(*) AS BIGINT) AS n_occurrences,
       (2 * sum(relq) + count(*)) // (2 * count(*)) / 1e6
         AS mean_rel_pos,
       (2000000 * sum(CASE WHEN relq < 250000 THEN 1 ELSE 0 END)
          + count(*)) // (2 * count(*)) / 1e6 AS front_share
FROM occ JOIN dfs USING (tok)
GROUP BY df_bucket ORDER BY df_bucket
"""


CLUSTEREVAL_QUERIES = {
    "bcubed_eval": q_bcubed_eval,
    "simhash_bit_balance": q_simhash_bit_balance,
    "power_analysis": q_power_analysis,
    "kendalls_w": q_kendalls_w,
    "token_position_profile": q_token_position_profile,
}

CLUSTEREVAL_ORACLES = {
    "bcubed_eval": ORACLE_BCUBED_EVAL,
    "simhash_bit_balance": ORACLE_SIMHASH_BIT_BALANCE,
    "power_analysis": ORACLE_POWER_ANALYSIS,
    "kendalls_w": ORACLE_KENDALLS_W,
    "token_position_profile": ORACLE_TOKEN_POSITION_PROFILE,
}

_q.QUERIES.update(CLUSTEREVAL_QUERIES)
_q.ORACLES.update(CLUSTEREVAL_ORACLES)
