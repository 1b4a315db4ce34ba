"""Nonparametric-testing & vocabulary-dynamics catalog, round 4
(wave 41): five operators spanning the distribution-free statistics
and lexical-growth surfaces —

* ``mannwhitney_u`` — the Mann–Whitney U rank-sum test of "are
  English docs longer?": midranks over the exact n_chars value
  histogram via the TWICE-RANK integer trick (2·rank is always an
  integer even for .5 midranks, so the rank sum is an exact BIGINT),
  tie-corrected normal approximation, plus the U/(n1·n2) effect size
  (the rank-biserial/AUC reading of U — the test-statistic companion
  to ``auc_rank``).
* ``heaps_law`` — Heaps'-law vocabulary-growth fit V = k·N^β over
  word-BIGRAM types (the synthetic unigram vocabulary saturates in
  one bucket — the ``submodular_coverage`` precedent): docs are cut
  into ``_HL_B`` equal-width doc_id prefix buckets, each bigram
  contributes its FIRST bucket (one min-agg — never a running
  distinct), and the (ln N_cum, ln V_cum) curve is OLS-fitted over
  the B bucket points.  The growth-dynamics companion to
  ``zipf_fit`` (distribution).
* ``markov_entropy_rate`` — entropy rate of the per-user event-type
  Markov chain: H = (Σ_i n_i·ln n_i − Σ_ij n_ij·ln n_ij)/N from the
  exact transition-cell counts (the ``event_markov`` cells), with
  the ln(#states)-normalized form.  One number for "how predictable
  is the event stream".
* ``stem_vocab_reduction`` — suffix-stripping (Porter step-1a-style:
  sses→ss, ies→i, ss kept, trailing s dropped on length>3) vocabulary
  compaction audit: types before/after, merged-type share, and the
  token mass the stemmer actually touches.  Pure LIKE/substring
  string ops — no regex, so no cross-engine regex-dialect risk.
* ``runs_test`` — Wald–Wolfowitz runs test of the daily event-count
  series against its own (lower) median: above/below signs, run
  count, and the exact-moments normal approximation.  The
  randomness-of-sequence companion to ``mann_kendall`` (trend) and
  ``autocorr_daily`` (correlation).

House contract: DuckDB value-hash oracle with identical aliases,
self-registration into queries.QUERIES / ORACLES on import, semantics
tests plus physical-plan assertions in tests/test_nonparam_wave.py.

Cross-engine float policy: every aggregate that feeds libm is an
exact BIGINT (twice-ranks, tie cubes, transition counts, micro-
quantized ln coordinates summed as integers); the final z / β / H
expressions are ROW-LOCAL double math on one row of those integers —
identical expression trees on identical inputs, so no accumulation-
order exposure anywhere (the corr_matrix doctrine).  Per-cell
n·ln(n) terms are micro-quantized BEFORE their sums
(``markov_entropy_rate``, the zipf_fit doctrine).

Scale notes: ``mannwhitney_u``'s rank window runs over the n_chars
VALUE HISTOGRAM (bounded by max doc length, never corpus rows);
``heaps_law``/``runs_test`` windows run over B=20 buckets / #days;
``markov_entropy_rate`` aggregates ≤|event_types|² cells after one
user-partitioned lead(); ``stem_vocab_reduction`` is two partial
aggs over the type table.

Reference parity: axis-B net-new corpus ops (the reference
Bodhi42/Occular-ocr engine is per-document OCR only; SURVEY.md §2,
"LLM-data pipeline ops").  Extends the hypothesis-test family
(``welch_ttest``, ``ks_statistic``, ``bh_fdr``), the vocabulary family
(``good_turing_counts``, ``zipf_fit``), and the sequence family
(``event_markov``, ``mann_kendall``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from . import queries as _q
from .queries import _t

# Heaps-law prefix bucket count.
_HL_B = 20


# ---------------------------------------------------------------------------
# mannwhitney_u — tie-corrected rank-sum test, en vs non-en length
# ---------------------------------------------------------------------------


def q_mannwhitney_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann–Whitney U over doc length, sample 1 = ``lang='en'``.

    Midranks come from the exact value histogram: for a value with t
    ties after c smaller rows, every tied row's midrank is
    c + (t+1)/2, so TWICE the midrank is the integer 2c + t + 1 and
    the en-side rank sum 2·R1 = Σ e·(2c+t+1) stays an exact BIGINT.
    U1 = R1 − n1(n1+1)/2, z uses the tie-corrected variance
    n1·n2·(n³−n−Σ(t³−t))/(12·n·(n−1)) (no continuity correction —
    documented, mirrored in the oracle).

    Scale: one partial agg onto the n_chars value histogram, then a
    cumulative window over THAT histogram (bounded by max doc length,
    not corpus rows) into a one-row reduce; the z math is row-local
    IEEE on exact integers.
    """
    hist = (
        _t(spark, sf_dir, "documents")
        .groupBy(F.col("n_chars").alias("v"))
        .agg(
            F.count("*").cast("bigint").alias("t"),
            F.sum((F.col("lang") == "en").cast("bigint"))
            .cast("bigint")
            .alias("e"),
        )
    )
    wc = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    ranked = hist.withColumn(
        "c", F.coalesce(F.sum("t").over(wc), F.lit(0)).cast("bigint")
    )
    agg = ranked.groupBy().agg(
        F.sum(F.expr("e * (2 * c + t + 1)")).cast("bigint").alias("r1x2"),
        F.sum("e").cast("bigint").alias("n1"),
        F.sum("t").cast("bigint").alias("n"),
        F.sum(F.expr("t * t * t - t")).cast("bigint").alias("ties3"),
    )
    return agg.select(
        "n1",
        F.expr("n - n1").alias("n2"),
        F.expr("CAST(r1x2 - n1 * (n1 + 1) AS DOUBLE) / 2.0").alias("u1"),
        F.expr(
            """
            CAST(floor(
              CAST(r1x2 - n1 * (n1 + 1) AS DOUBLE)
                / (2.0 * greatest(n1 * (n - n1), 1)) * 1e6 + 0.5
            ) AS BIGINT) / 1e6
            """
        ).alias("auc"),
        F.expr(
            """
            CASE WHEN n1 = 0 OR n1 = n THEN 0.0 ELSE
              CAST(floor(
                (CAST(r1x2 - n1 * (n1 + 1) AS DOUBLE) / 2.0
                   - CAST(n1 AS DOUBLE) * (n - n1) / 2.0)
                / sqrt(CAST(n1 AS DOUBLE) * (n - n1)
                       * (CAST(n AS DOUBLE) * n * n - n - ties3)
                       / (12.0 * n * (n - 1))) * 1e6 + 0.5
              ) AS BIGINT) / 1e6
            END
            """
        ).alias("z"),
    )


ORACLE_MANNWHITNEY_U = """
WITH hist AS (
  SELECT n_chars AS v, CAST(count(*) AS BIGINT) AS t,
         CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS e
  FROM documents GROUP BY 1),
ranked AS (
  SELECT v, t, e,
         CAST(coalesce(sum(t) OVER (ORDER BY v
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS BIGINT) AS c
  FROM hist),
agg AS (
  SELECT CAST(sum(e * (2 * c + t + 1)) AS BIGINT) AS r1x2,
         CAST(sum(e) AS BIGINT) AS n1,
         CAST(sum(t) AS BIGINT) AS n,
         CAST(sum(t * t * t - t) AS BIGINT) AS ties3
  FROM ranked)
SELECT n1, n - n1 AS n2,
       (r1x2 - n1 * (n1 + 1)) / 2.0 AS u1,
       CAST(floor(
         CAST(r1x2 - n1 * (n1 + 1) AS DOUBLE)
           / (2.0 * greatest(n1 * (n - n1), 1)) * 1e6 + 0.5
       ) AS BIGINT) / 1e6 AS auc,
       CASE WHEN n1 = 0 OR n1 = n THEN 0.0 ELSE
         CAST(floor(
           (CAST(r1x2 - n1 * (n1 + 1) AS DOUBLE) / 2.0
              - CAST(n1 AS DOUBLE) * (n - n1) / 2.0)
           / sqrt(CAST(n1 AS DOUBLE) * (n - n1)
                  * (CAST(n AS DOUBLE) * n * n - n - ties3)
                  / (12.0 * n * (n - 1))) * 1e6 + 0.5
         ) AS BIGINT) / 1e6
       END AS z
FROM agg
"""


# ---------------------------------------------------------------------------
# heaps_law — vocabulary growth fit over doc_id prefix buckets
# ---------------------------------------------------------------------------


def q_heaps_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law fit ln V = ln k + β·ln N over ``_HL_B`` doc_id
    prefix buckets: bigram mass per bucket gives N_cum, each bigram
    type's FIRST bucket (one min-agg) gives V_cum — the
    running-distinct is never materialized row-by-row.  Types are
    word BIGRAMS over the empty-filtered token list (the synthetic
    unigram vocabulary is one-bucket-saturating, which would zero the
    y-variance; same rationale as ``submodular_coverage``).  Natural
    corpora sit at β ≈ 0.4–0.8; a flat β says the vocabulary has
    saturated (template/duplicated text).  Degenerate zero-variance
    axes yield beta/lnk/r2 = 0.0 by explicit guard.

    Determinism: the (ln N_cum, ln V_cum) coordinates are
    micro-quantized integers (ln on exact-integer-valued doubles,
    floored at 1) and the OLS moment sums over the B points are
    BIGINT; β / ln k / r² are row-local doubles rounded half-up at 6.

    Scale: two corpus passes (bucket mass, type-min-bucket), then
    everything lives on a B = 20-row frame; the cumulative windows
    and fit are constant-size.
    """
    docs = _t(spark, sf_dir, "documents")
    mm = docs.groupBy().agg(
        F.min("doc_id").alias("mn"), F.max("doc_id").alias("mx")
    )
    toks = (
        docs.crossJoin(F.broadcast(mm))
        .select(
            F.expr(
                f"CAST((doc_id - mn) * {_HL_B} DIV (mx - mn + 1) AS BIGINT)"
            ).alias("b"),
            F.expr(
                "filter(split(coalesce(text, ''), ' '), x -> x <> '')"
            ).alias("arr"),
        )
        .select(
            "b",
            F.explode(
                F.expr(
                    """
                    CASE WHEN size(arr) >= 2 THEN
                      transform(sequence(1, size(arr) - 1),
                        i -> concat(element_at(arr, i), ' ',
                                    element_at(arr, i + 1)))
                    ELSE CAST(array() AS array<string>) END
                    """
                )
            ).alias("tok"),
        )
    )
    nb = toks.groupBy("b").agg(F.count("*").cast("bigint").alias("nb"))
    vb = (
        toks.groupBy("tok")
        .agg(F.min("b").alias("b"))
        .groupBy("b")
        .agg(F.count("*").cast("bigint").alias("vb"))
    )
    grid = spark.range(_HL_B).select(F.col("id").cast("bigint").alias("b"))
    series = (
        grid.join(nb, "b", "left")
        .join(vb, "b", "left")
        .na.fill({"nb": 0, "vb": 0})
    )
    wcum = Window.orderBy("b").rowsBetween(Window.unboundedPreceding, 0)
    coords = series.select(
        "b",
        F.sum("nb").over(wcum).cast("bigint").alias("ncum"),
        F.sum("vb").over(wcum).cast("bigint").alias("vcum"),
    ).select(
        F.expr(
            "CAST(floor(ln(CAST(greatest(ncum, 1) AS DOUBLE)) * 1e6 + 0.5)"
            " AS BIGINT)"
        ).alias("x"),
        F.expr(
            "CAST(floor(ln(CAST(greatest(vcum, 1) AS DOUBLE)) * 1e6 + 0.5)"
            " AS BIGINT)"
        ).alias("y"),
        "ncum",
        "vcum",
    )
    mom = coords.groupBy().agg(
        F.count("*").cast("bigint").alias("bn"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.expr("x * y")).cast("bigint").alias("sxy"),
        F.sum(F.expr("x * x")).cast("bigint").alias("sxx"),
        F.sum(F.expr("y * y")).cast("bigint").alias("syy"),
        F.max("ncum").cast("bigint").alias("n_tokens"),
        F.max("vcum").cast("bigint").alias("n_types"),
    )
    return mom.select(
        F.col("bn").alias("n_buckets"),
        "n_tokens",
        "n_types",
        F.expr(
            """
            CASE WHEN bn * sxx - sx * sx = 0 OR bn * syy - sy * sy = 0
              THEN 0.0 ELSE
              CAST(floor(CAST(bn * sxy - sx * sy AS DOUBLE)
                / (bn * sxx - sx * sx) * 1e6 + 0.5) AS BIGINT) / 1e6
            END
            """
        ).alias("beta"),
        F.expr(
            """
            CASE WHEN bn * sxx - sx * sx = 0 OR bn * syy - sy * sy = 0
              THEN 0.0 ELSE
              CAST(floor((CAST(sy AS DOUBLE) / bn / 1e6
                - CAST(bn * sxy - sx * sy AS DOUBLE)
                  / (bn * sxx - sx * sx)
                  * (CAST(sx AS DOUBLE) / bn / 1e6)) * 1e6 + 0.5)
                AS BIGINT) / 1e6
            END
            """
        ).alias("lnk"),
        F.expr(
            """
            CASE WHEN bn * sxx - sx * sx = 0 OR bn * syy - sy * sy = 0
              THEN 0.0 ELSE
              CAST(floor(
                CAST(bn * sxy - sx * sy AS DOUBLE)
                  * CAST(bn * sxy - sx * sy AS DOUBLE)
                / (CAST(bn * sxx - sx * sx AS DOUBLE)
                   * CAST(bn * syy - sy * sy AS DOUBLE)) * 1e6 + 0.5)
                AS BIGINT) / 1e6
            END
            """
        ).alias("r2"),
    )


ORACLE_HEAPS_LAW = f"""
WITH mm AS (SELECT min(doc_id) AS mn, max(doc_id) AS mx FROM documents),
toks AS (
  SELECT b,
         unnest(list_transform(range(1, len(arr)),
                i -> arr[i] || ' ' || arr[i + 1])) AS tok
  FROM (SELECT CAST((doc_id - mn) * {_HL_B} // (mx - mn + 1) AS BIGINT) AS b,
               list_filter(string_split(coalesce(text, ''), ' '),
                           x -> x <> '') AS arr
        FROM documents, mm)
  WHERE len(arr) >= 2),
nb AS (SELECT b, CAST(count(*) AS BIGINT) AS nb FROM toks GROUP BY b),
vb AS (
  SELECT b, CAST(count(*) AS BIGINT) AS vb
  FROM (SELECT tok, min(b) AS b FROM toks GROUP BY tok) GROUP BY b),
series AS (
  SELECT g.b, coalesce(nb.nb, 0) AS nb, coalesce(vb.vb, 0) AS vb
  FROM (SELECT unnest(range({_HL_B})) AS b) g
  LEFT JOIN nb ON g.b = nb.b LEFT JOIN vb ON g.b = vb.b),
coords AS (
  SELECT CAST(floor(ln(CAST(greatest(ncum, 1) AS DOUBLE)) * 1e6 + 0.5)
           AS BIGINT) AS x,
         CAST(floor(ln(CAST(greatest(vcum, 1) AS DOUBLE)) * 1e6 + 0.5)
           AS BIGINT) AS y,
         ncum, vcum
  FROM (SELECT b,
               CAST(sum(nb) OVER (ORDER BY b) AS BIGINT) AS ncum,
               CAST(sum(vb) OVER (ORDER BY b) AS BIGINT) AS vcum
        FROM series)),
mom AS (
  SELECT CAST(count(*) AS BIGINT) AS bn,
         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(x * y) AS BIGINT) AS sxy,
         CAST(sum(x * x) AS BIGINT) AS sxx,
         CAST(sum(y * y) AS BIGINT) AS syy,
         CAST(max(ncum) AS BIGINT) AS n_tokens,
         CAST(max(vcum) AS BIGINT) AS n_types
  FROM coords)
SELECT bn AS n_buckets, n_tokens, n_types,
       CASE WHEN bn * sxx - sx * sx = 0 OR bn * syy - sy * sy = 0
         THEN 0.0 ELSE
         CAST(floor(CAST(bn * sxy - sx * sy AS DOUBLE)
           / (bn * sxx - sx * sx) * 1e6 + 0.5) AS BIGINT) / 1e6
       END AS beta,
       CASE WHEN bn * sxx - sx * sx = 0 OR bn * syy - sy * sy = 0
         THEN 0.0 ELSE
         CAST(floor((CAST(sy AS DOUBLE) / bn / 1e6
           - CAST(bn * sxy - sx * sy AS DOUBLE) / (bn * sxx - sx * sx)
             * (CAST(sx AS DOUBLE) / bn / 1e6)) * 1e6 + 0.5)
           AS BIGINT) / 1e6
       END AS lnk,
       CASE WHEN bn * sxx - sx * sx = 0 OR bn * syy - sy * sy = 0
         THEN 0.0 ELSE
         CAST(floor(
           CAST(bn * sxy - sx * sy AS DOUBLE)
             * CAST(bn * sxy - sx * sy AS DOUBLE)
           / (CAST(bn * sxx - sx * sx AS DOUBLE)
              * CAST(bn * syy - sy * sy AS DOUBLE)) * 1e6 + 0.5)
           AS BIGINT) / 1e6
       END AS r2
FROM mom
"""


# ---------------------------------------------------------------------------
# markov_entropy_rate — entropy rate of the event-type chain
# ---------------------------------------------------------------------------


def q_markov_entropy_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entropy rate of the per-user event-type Markov chain under the
    empirical transition distribution:
    H = (Σ_i n_i·ln n_i − Σ_ij n_ij·ln n_ij) / N — the exact-count
    identity (no probability ever materializes), with the
    ln(#states)-normalized companion.  0 = fully deterministic
    stream, 1 = uniform chaos; the one-number summary of
    ``event_markov``.

    Determinism: n·ln(n) terms (ln on exact-integer-valued doubles)
    are micro-quantized BEFORE their sums over the ≤|event_types|²
    cell table, so accumulation order is irrelevant; the final ratio
    is row-local.

    Scale: one user-partitioned lead() window (the event_markov
    exchange), one bounded-key cell agg, one constant-size reduce.
    """
    ev = _t(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    cells = (
        ev.withColumn("to_type", F.lead("event_type").over(w))
        .where(F.col("to_type").isNotNull())
        .groupBy(F.col("event_type").alias("from_type"), "to_type")
        .agg(F.count("*").cast("bigint").alias("n"))
    )
    qcell = cells.groupBy().agg(
        F.sum(
            F.expr(
                "CAST(floor(n * ln(CAST(n AS DOUBLE)) * 1e6 + 0.5)"
                " AS BIGINT)"
            )
        )
        .cast("bigint")
        .alias("q1"),
        F.sum("n").cast("bigint").alias("nt"),
        F.count("*").cast("bigint").alias("n_cells"),
    )
    rows = (
        cells.groupBy("from_type")
        .agg(F.sum("n").cast("bigint").alias("ni"))
        .groupBy()
        .agg(
            F.sum(
                F.expr(
                    "CAST(floor(ni * ln(CAST(ni AS DOUBLE)) * 1e6 + 0.5)"
                    " AS BIGINT)"
                )
            )
            .cast("bigint")
            .alias("q2"),
            F.count("*").cast("bigint").alias("n_states"),
        )
    )
    return qcell.crossJoin(rows).select(
        F.col("nt").alias("n_transitions"),
        "n_states",
        "n_cells",
        F.expr(
            "CAST(floor(CAST(q2 - q1 AS DOUBLE) / nt + 0.5) AS BIGINT)"
            " / 1e6"
        ).alias("entropy_rate"),
        F.expr(
            """
            CASE WHEN n_states <= 1 THEN 0.0 ELSE
              CAST(floor(CAST(q2 - q1 AS DOUBLE) / nt
                / ln(CAST(n_states AS DOUBLE)) + 0.5) AS BIGINT) / 1e6
            END
            """
        ).alias("entropy_norm"),
    )


ORACLE_MARKOV_ENTROPY_RATE = """
WITH trans AS (
  SELECT event_type AS from_type,
         lead(event_type) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS to_type
  FROM events),
cells AS (
  SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n
  FROM trans WHERE to_type IS NOT NULL GROUP BY 1, 2),
qcell AS (
  SELECT CAST(sum(CAST(floor(n * ln(CAST(n AS DOUBLE)) * 1e6 + 0.5)
                  AS BIGINT)) AS BIGINT) AS q1,
         CAST(sum(n) AS BIGINT) AS nt,
         CAST(count(*) AS BIGINT) AS n_cells
  FROM cells),
rws AS (
  SELECT CAST(sum(CAST(floor(ni * ln(CAST(ni AS DOUBLE)) * 1e6 + 0.5)
                  AS BIGINT)) AS BIGINT) AS q2,
         CAST(count(*) AS BIGINT) AS n_states
  FROM (SELECT from_type, CAST(sum(n) AS BIGINT) AS ni
        FROM cells GROUP BY from_type))
SELECT nt AS n_transitions, n_states, n_cells,
       CAST(floor(CAST(q2 - q1 AS DOUBLE) / nt + 0.5) AS BIGINT) / 1e6
         AS entropy_rate,
       CASE WHEN n_states <= 1 THEN 0.0 ELSE
         CAST(floor(CAST(q2 - q1 AS DOUBLE) / nt
           / ln(CAST(n_states AS DOUBLE)) + 0.5) AS BIGINT) / 1e6
       END AS entropy_norm
FROM qcell, rws
"""


# ---------------------------------------------------------------------------
# stem_vocab_reduction — suffix-stripping compaction audit
# ---------------------------------------------------------------------------

_STEM_CASE = """
CASE
  WHEN tok LIKE '%sses' THEN substring(tok, 1, length(tok) - 2)
  WHEN tok LIKE '%ies'  THEN substring(tok, 1, length(tok) - 2)
  WHEN tok LIKE '%ss'   THEN tok
  WHEN tok LIKE '%s' AND length(tok) > 3
                        THEN substring(tok, 1, length(tok) - 1)
  ELSE tok
END
"""


def q_stem_vocab_reduction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Suffix-stripping vocabulary compaction (Porter step 1a:
    sses→ss, ies→i, keep ss, drop a lone trailing s on tokens longer
    than 3): how many types the stemmer merges and how much token
    mass it rewrites — the cheap upper bound on what a real stemmer
    would buy a vocabulary-capped tokenizer.

    The stem rule is a LIKE/substring CASE — byte-identical semantics
    in both engines, deliberately no regex (Java vs RE2 dialect risk
    is zero by construction).

    Scale: one tokenize into the type table, a stem-key partial agg,
    and a one-row reduce; ratios are exact integer round-half-up
    micro.
    """
    tf = (
        _t(spark, sf_dir, "documents")
        .select(F.explode(F.split("text", " ")).alias("tok"))
        .where(F.col("tok") != "")
        .groupBy("tok")
        .agg(F.count("*").cast("bigint").alias("y"))
        .withColumn("stem", F.expr(_STEM_CASE))
    )
    agg = tf.groupBy().agg(
        F.sum("y").cast("bigint").alias("n_tokens"),
        F.count("*").cast("bigint").alias("n_types"),
        F.countDistinct("stem").cast("bigint").alias("n_stems"),
        F.sum(F.expr("CASE WHEN stem <> tok THEN y ELSE 0 END"))
        .cast("bigint")
        .alias("n_tokens_altered"),
    )
    return agg.select(
        "n_tokens",
        "n_types",
        "n_stems",
        "n_tokens_altered",
        (
            F.expr(
                "(2000000 * (n_types - n_stems) + n_types)"
                " DIV (2 * n_types)"
            )
            / 1000000.0
        ).alias("types_reduction"),
        (
            F.expr(
                "(2000000 * n_tokens_altered + n_tokens)"
                " DIV (2 * n_tokens)"
            )
            / 1000000.0
        ).alias("altered_share"),
    )


ORACLE_STEM_VOCAB_REDUCTION = f"""
WITH tf AS (
  SELECT tok, CAST(count(*) AS BIGINT) AS y
  FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
  WHERE tok <> '' GROUP BY tok),
st AS (
  SELECT tok, y, {_STEM_CASE} AS stem FROM tf),
agg AS (
  SELECT CAST(sum(y) AS BIGINT) AS n_tokens,
         CAST(count(*) AS BIGINT) AS n_types,
         CAST(count(DISTINCT stem) AS BIGINT) AS n_stems,
         CAST(sum(CASE WHEN stem <> tok THEN y ELSE 0 END) AS BIGINT)
           AS n_tokens_altered
  FROM st)
SELECT n_tokens, n_types, n_stems, n_tokens_altered,
       ((2000000 * (n_types - n_stems) + n_types) // (2 * n_types))
         / 1000000.0 AS types_reduction,
       ((2000000 * n_tokens_altered + n_tokens) // (2 * n_tokens))
         / 1000000.0 AS altered_share
FROM agg
"""


# ---------------------------------------------------------------------------
# runs_test — Wald–Wolfowitz runs test of the daily series
# ---------------------------------------------------------------------------


def q_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald–Wolfowitz runs test: the daily event-count series is
    dichotomized against its own LOWER median (exact value; days
    equal to the median are dropped, the classical convention), runs
    of consecutive same-side days are counted, and z uses the exact
    run moments
    E[R] = 2·n1·n2/n + 1, Var[R] = 2n1n2(2n1n2−n)/(n²(n−1)).  Too
    FEW runs = regime persistence, too many = oscillation — the
    randomness companion to ``mann_kendall``.

    Scale: the corpus pass is the daily partial agg; the median pick,
    sign lag, and run count are windows over the #days series (the
    documented bounded-global-window exception).  All counts exact
    BIGINT; z is row-local IEEE, zero-guarded for degenerate sides.
    """
    daily = (
        _t(spark, sf_dir, "events")
        .select(F.to_date("ts").alias("d"))
        .groupBy("d")
        .agg(F.count("*").cast("bigint").alias("y"))
    )
    wm = Window.orderBy("y", "d")
    med = (
        daily.withColumn("rn", F.row_number().over(wm))
        .withColumn("nd", F.count("*").over(Window.partitionBy(F.lit(1))))
        .where(F.expr("rn = (nd + 1) DIV 2"))
        .select(F.col("y").alias("m"))
    )
    signs = (
        daily.crossJoin(F.broadcast(med))
        .where(F.col("y") != F.col("m"))
        .select("d", (F.col("y") > F.col("m")).cast("bigint").alias("s"))
    )
    wd = Window.orderBy("d")
    runs = signs.withColumn(
        "chg",
        F.expr(
            "CASE WHEN lag(s) OVER (ORDER BY d) IS NULL"
            " OR lag(s) OVER (ORDER BY d) <> s THEN 1 ELSE 0 END"
        ),
    )
    agg = runs.groupBy().agg(
        F.count("*").cast("bigint").alias("n_used"),
        F.sum("s").cast("bigint").alias("n_above"),
        F.sum("chg").cast("bigint").alias("runs"),
    )
    return agg.select(
        "n_used",
        "n_above",
        F.expr("n_used - n_above").alias("n_below"),
        "runs",
        F.expr(
            """
            CASE WHEN n_above = 0 OR n_above = n_used OR n_used < 3
              THEN 0.0 ELSE
              CAST(floor(
                (runs - (2.0 * n_above * (n_used - n_above) / n_used
                         + 1.0))
                / sqrt(2.0 * n_above * (n_used - n_above)
                       * (2.0 * n_above * (n_used - n_above) - n_used)
                       / (CAST(n_used AS DOUBLE) * n_used
                          * (n_used - 1))) * 1e6 + 0.5
              ) AS BIGINT) / 1e6
            END
            """
        ).alias("z"),
    )


ORACLE_RUNS_TEST = """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS d, CAST(count(*) AS BIGINT) AS y
  FROM events GROUP BY 1),
med AS (
  SELECT y AS m FROM (
    SELECT y, row_number() OVER (ORDER BY y, d) AS rn,
           count(*) OVER () AS nd
    FROM daily)
  WHERE rn = (nd + 1) // 2),
signs AS (
  SELECT d, CAST(CASE WHEN y > m THEN 1 ELSE 0 END AS BIGINT) AS s
  FROM daily, med WHERE y <> m),
runs AS (
  SELECT s, CASE WHEN lag(s) OVER (ORDER BY d) IS NULL
                 OR lag(s) OVER (ORDER BY d) <> s THEN 1 ELSE 0 END AS chg
  FROM signs),
agg AS (
  SELECT CAST(count(*) AS BIGINT) AS n_used,
         CAST(sum(s) AS BIGINT) AS n_above,
         CAST(sum(chg) AS BIGINT) AS runs
  FROM runs)
SELECT n_used, n_above, n_used - n_above AS n_below, runs,
       CASE WHEN n_above = 0 OR n_above = n_used OR n_used < 3
         THEN 0.0 ELSE
         CAST(floor(
           (runs - (2.0 * n_above * (n_used - n_above) / n_used + 1.0))
           / sqrt(2.0 * n_above * (n_used - n_above)
                  * (2.0 * n_above * (n_used - n_above) - n_used)
                  / (CAST(n_used AS DOUBLE) * n_used * (n_used - 1)))
           * 1e6 + 0.5
         ) AS BIGINT) / 1e6
       END AS z
FROM agg
"""


NONPARAM_QUERIES = {
    "mannwhitney_u": q_mannwhitney_u,
    "heaps_law": q_heaps_law,
    "markov_entropy_rate": q_markov_entropy_rate,
    "stem_vocab_reduction": q_stem_vocab_reduction,
    "runs_test": q_runs_test,
}

NONPARAM_ORACLES = {
    "mannwhitney_u": ORACLE_MANNWHITNEY_U,
    "heaps_law": ORACLE_HEAPS_LAW,
    "markov_entropy_rate": ORACLE_MARKOV_ENTROPY_RATE,
    "stem_vocab_reduction": ORACLE_STEM_VOCAB_REDUCTION,
    "runs_test": ORACLE_RUNS_TEST,
}

_q.QUERIES.update(NONPARAM_QUERIES)
_q.ORACLES.update(NONPARAM_ORACLES)
