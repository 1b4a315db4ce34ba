"""Corpus-audit & planner-hygiene catalog, round 4 (wave 29): five
operators a 100 TB platform runs to audit its own data, clusters, and
query plans —

* ``char_lm_bpb`` — bits-per-byte of each source under the CORPUS
  character unigram LM: the dataset-card compression proxy ("which
  domain is surprising relative to the whole") one model class below
  ``unigram_logprob``'s token LM.
* ``graph_modularity`` — Newman modularity of the near-dup connected-
  component partition over the verified pair graph, computed as ONE
  exact integer rational Σ_c(4m·L_c − d_c²) / 4m²: the companion QA
  number to ``dedup_transitivity`` — transitivity asks "are the edges
  coherent", modularity asks "is the partition they induce tight".
* ``join_size_audit`` — textbook independence-assumption join
  cardinality estimate |A|·|B| / max(ndv_A, ndv_B) vs the EXACT
  equi-join cardinality Σ_k cnt_A(k)·cnt_B(k) for the schema's three
  natural joins — the planner-hygiene report that flags which join a
  cost-based optimizer will mis-size (skew makes actual ≫ estimate).
* ``benford_check`` — leading-digit distribution of ``n_chars`` vs
  Benford's law with per-digit χ² contributions: the classic
  "is this column organically distributed or synthetic/corrupt?"
  data-forensics screen.
* ``moments_profile`` — per-source skewness and excess kurtosis of
  ``n_chars`` from n-scaled INTEGER central moments (M2/M3/M4 as
  DECIMAL(38,0) polynomials in the raw power sums): the shape profile
  that tells a mixture planner whether a domain's length distribution
  is heavy-tailed before sampling from it.

House contract: DuckDB value-hash oracle with identical aliases,
self-registration into queries.QUERIES / ORACLES on import, semantics
tests plus physical-plan assertions in tests/test_audit_wave.py.

Cross-engine float policy: char-LM ln only of exact integers;
modularity is a single integer division rounded at the surface;
join estimates are exact integer floor divisions; Benford expected
counts come from SHARED log10 literals (pre-printed, never engine
libm); moments convert DECIMAL-exact polynomials to DOUBLE only in
the final rounded expression, with x·sqrt(x) standing in for the
banned libm pow(x, 1.5).

Reference parity: axis-B net-new corpus ops (the reference
Bodhi42/Occular-ocr engine is per-document OCR only; SURVEY.md §2,
"LLM-data pipeline ops").  Extends the curation family
(``unigram_logprob`` queries_curation.py, ``char_entropy``
queries_dedupqa.py), the dedup-QA family (``dedup_transitivity``,
``dedup_groups`` queries_ext.py — modularity reuses both the verified
pair set and the CC labels), the stats family (``zipf_fit``,
``autocorr_daily`` — same n-scaled integer-moment doctrine) and the
warehouse family (``skew_join_salted`` queries_scale.py —
join_size_audit quantifies the skew that op exists to absorb).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from . import queries as _q
from .queries import ORACLE_DEDUP_GROUPS, _t, q_dedup_minhash_verify

# ---------------------------------------------------------------------------
# char_lm_bpb
# ---------------------------------------------------------------------------


def q_char_lm_bpb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bits-per-byte of each source under the corpus character unigram
    LM: with corpus char counts C_c (total T) and per-source counts
    n_{s,c} (total N_s),

        bpb(s) = −Σ_c n_{s,c}·(ln C_c − ln T) / (ln 2 · N_s)

    — every ln argument an EXACT integer, so both engines take ln of
    identical doubles (the ``unigram_logprob`` precedent); the ln 2
    normalizer is ln of the same exact integer 2.  Sources whose text
    diverges from the corpus-wide character distribution (other
    scripts, markup debris, binary junk) score high.

    Scale: ONE char pass builds per-(source, char) counts with a
    partial-aggregated groupBy; the #chars-row corpus LM broadcasts
    back; the per-source rollup is a second tiny agg.  No windows.
    """
    d = _t(spark, sf_dir, "documents").where(F.length("text") > 0)
    sc = (
        d.select("source", F.explode(F.split("text", "")).alias("ch"))
        .groupBy("source", "ch")
        .agg(F.count("*").alias("n"))
    )
    lm = sc.groupBy("ch").agg(F.sum("n").alias("cc"))
    tot = lm.agg(F.sum("cc").alias("t"))
    return (
        sc.join(F.broadcast(lm), "ch")
        .crossJoin(F.broadcast(tot))
        .groupBy("source")
        .agg(
            F.sum("n").cast("bigint").alias("n_chars"),
            F.sum(
                -F.col("n") * (F.log(F.col("cc")) - F.log(F.col("t")))
            ).alias("nll"),
        )
        .select(
            "source",
            "n_chars",
            F.round(
                F.col("nll") / (F.log(F.lit(2).cast("double")) * F.col("n_chars")), 6
            ).alias("bpb"),
        )
    )


ORACLE_CHAR_LM_BPB = """
WITH ch AS (
  SELECT source, unnest(string_split(text, '')) AS ch
  FROM documents WHERE length(text) > 0),
sc AS (SELECT source, ch, count(*) AS n FROM ch GROUP BY source, ch),
lm AS (SELECT ch, CAST(sum(n) AS BIGINT) AS cc FROM sc GROUP BY ch),
tot AS (SELECT CAST(sum(cc) AS BIGINT) AS t FROM lm)
SELECT source,
       CAST(sum(n) AS BIGINT) AS n_chars,
       round(sum(-n * (ln(CAST(cc AS DOUBLE)) - ln(CAST(t AS DOUBLE))))
             / (ln(CAST(2 AS DOUBLE)) * sum(n)), 6) AS bpb
FROM sc JOIN lm USING (ch) CROSS JOIN tot
GROUP BY source
"""


# ---------------------------------------------------------------------------
# graph_modularity
# ---------------------------------------------------------------------------


def q_graph_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity of the near-dup CC partition: with m = |E|
    (the verified pair set), L_c = intra-community edges and d_c = sum
    of member degrees,

        Q = Σ_c (L_c/m − (d_c/2m)²) = Σ_c (4m·L_c − d_c²) / (4m²)

    — the right-hand form keeps the WHOLE statistic one exact integer
    rational (BIGINT-safe while 4m² < 2^63, i.e. m < 1.5e9 near-dup
    pairs; past that promote the two products to DECIMAL(38,0)).
    Because communities ARE the connected components, every edge is
    intra-community (Σ L_c = m) and Q measures how far the components
    sit from one tangled hairball: Q near its d_c-determined maximum →
    tight well-separated duplicate clusters; Q ≈ 0 → one giant
    component is absorbing the graph and the verify threshold needs
    raising.  Completes the dedup-QA triptych: ``dedup_transitivity``
    (edge coherence), ``dedup_cluster_stats`` (size census), this
    (partition strength).

    Scale: edges are the session-memoized near-dup pair set (vanishing
    fraction of the corpus); the label joins shuffle on the node key
    (labels are corpus-sized — never broadcast), then two partial aggs
    and a 1-row combine.
    """
    e = q_dedup_minhash_verify(spark, sf_dir).select("doc_a", "doc_b")
    labels = _q.QUERIES["dedup_groups"](spark, sf_dir).select(
        F.col("doc_id").alias("v"), F.col("group_id").alias("c")
    )
    deg = (
        e.select(F.col("doc_a").alias("v"))
        .unionAll(e.select(F.col("doc_b").alias("v")))
        .groupBy("v")
        .agg(F.count("*").alias("d"))
    )
    dc = (
        deg.join(labels, "v")
        .groupBy("c")
        .agg(F.sum("d").cast("bigint").alias("d_c"))
    )
    la = labels.select(F.col("v").alias("doc_a"), F.col("c").alias("ca"))
    intra = (
        e.join(la, "doc_a")
        .groupBy("ca")
        .agg(F.count("*").cast("bigint").alias("l_c"))
    )
    m = e.agg(F.count("*").cast("bigint").alias("m"))
    per_c = dc.join(
        intra, dc.c == intra.ca, "left"
    ).select("c", "d_c", F.coalesce("l_c", F.lit(0)).alias("l_c"))
    num = per_c.crossJoin(F.broadcast(m)).agg(
        F.coalesce(
            F.sum(4 * F.col("m") * F.col("l_c") - F.col("d_c") * F.col("d_c")),
            F.lit(0),
        )
        .cast("bigint")
        .alias("num"),
        F.count("*").cast("bigint").alias("n_communities"),
    )
    return num.crossJoin(m).select(
        "m",
        "n_communities",
        F.when(
            F.col("m") > 0,
            F.round(F.col("num") / (4 * F.col("m") * F.col("m")), 6),
        )
        .otherwise(F.lit(0.0))
        .alias("modularity"),
    )


ORACLE_GRAPH_MODULARITY = f"""
WITH labels AS ({ORACLE_DEDUP_GROUPS}),
verified AS ({_q.ORACLE_DEDUP_MINHASH_VERIFY}),
e AS (SELECT doc_a, doc_b FROM verified),
deg AS (
  SELECT v, count(*) AS d FROM (
    SELECT doc_a AS v FROM e UNION ALL SELECT doc_b AS v FROM e)
  GROUP BY v),
dc AS (
  SELECT l.group_id AS c, CAST(sum(deg.d) AS BIGINT) AS d_c
  FROM deg JOIN labels l ON l.doc_id = deg.v
  GROUP BY l.group_id),
intra AS (
  SELECT l.group_id AS c, CAST(count(*) AS BIGINT) AS l_c
  FROM e JOIN labels l ON l.doc_id = e.doc_a
  GROUP BY l.group_id),
m AS (SELECT CAST(count(*) AS BIGINT) AS m FROM e),
per_c AS (
  SELECT dc.c, dc.d_c, CAST(coalesce(intra.l_c, 0) AS BIGINT) AS l_c
  FROM dc LEFT JOIN intra ON intra.c = dc.c),
num AS (
  SELECT CAST(coalesce(sum(4 * m.m * l_c - d_c * d_c), 0) AS BIGINT) AS num,
         CAST(count(*) AS BIGINT) AS n_communities
  FROM per_c CROSS JOIN m)
SELECT m.m AS m, num.n_communities,
       CASE WHEN m.m > 0
            THEN round(CAST(num.num AS DOUBLE) / (4 * m.m * m.m), 6)
            ELSE CAST(0.0 AS DOUBLE) END AS modularity
FROM num CROSS JOIN m
"""


# ---------------------------------------------------------------------------
# join_size_audit
# ---------------------------------------------------------------------------

_JSA_JOINS = (
    # (name, left table, left key, right table, right key)
    ("orders_lineitem", "orders", "o_orderkey", "lineitem", "l_orderkey"),
    ("part_lineitem", "part", "p_partkey", "lineitem", "l_partkey"),
    ("customer_orders", "customer", "c_custkey", "orders", "o_custkey"),
)


def _jsa_sql(dialect: str) -> str:
    div = "DIV" if dialect == "spark" else "//"
    blocks = []
    for name, lt, lk, rt, rk in _JSA_JOINS:
        blocks.append(f"""
SELECT '{name}' AS join_name,
       (SELECT CAST(count(*) AS BIGINT) FROM {lt}) AS n_left,
       (SELECT CAST(count(*) AS BIGINT) FROM {rt}) AS n_right,
       (SELECT CAST(count(DISTINCT {lk}) AS BIGINT) FROM {lt}) AS ndv_left,
       (SELECT CAST(count(DISTINCT {rk}) AS BIGINT) FROM {rt}) AS ndv_right,
       (SELECT CAST(count(*) AS BIGINT) FROM {lt})
         * (SELECT CAST(count(*) AS BIGINT) FROM {rt})
         {div} nullif((SELECT CAST(greatest(count(DISTINCT {lk}),
                                     (SELECT count(DISTINCT {rk}) FROM {rt}))
                            AS BIGINT)
                FROM {lt}), 0) AS est_rows,
       (SELECT CAST(coalesce(sum(a.n * b.n), 0) AS BIGINT)
        FROM (SELECT {lk} AS k, count(*) AS n FROM {lt} GROUP BY {lk}) a
        JOIN (SELECT {rk} AS k, count(*) AS n FROM {rt} GROUP BY {rk}) b
          ON a.k = b.k) AS actual_rows""")
    sel = "\nUNION ALL\n".join(blocks)
    return f"""
WITH audits AS ({sel})
SELECT join_name, n_left, n_right, ndv_left, ndv_right, est_rows, actual_rows,
       ((2000000 * actual_rows + nullif(est_rows, 0))
         {div} nullif(2 * est_rows, 0)) / CAST(1000000.0 AS DOUBLE)
         AS actual_over_est
FROM audits
"""


def q_join_size_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Planner-hygiene audit of the schema's three natural equi-joins:
    the textbook independence/uniformity cardinality estimate
    |A|·|B| / max(ndv_A, ndv_B) — the formula Catalyst's CBO and every
    System-R descendant applies — next to the EXACT join cardinality
    Σ_k cnt_A(k)·cnt_B(k), plus their ratio.  actual ≫ estimate flags
    key skew that will blow a shuffle partition (the situation
    ``skew_join_salted`` exists to absorb); actual ≪ estimate flags
    disjoint key ranges where a runtime filter would win.

    Scale: per-key histograms are partial-aggregated groupBys on the
    join keys (the same shuffle the join itself would pay), folded to
    one row per audited join; counts/NDVs are metadata-cheap scans.
    Exact integers end-to-end; the ratio is the house half-up
    micro-division (NULL when the estimate is 0 on empty tables).
    """
    _q._register_views(
        spark, sf_dir, ["orders", "lineitem", "part", "customer"]
    )
    return spark.sql(_jsa_sql("spark"))


ORACLE_JOIN_SIZE_AUDIT = _jsa_sql("duck")


# ---------------------------------------------------------------------------
# benford_check
# ---------------------------------------------------------------------------

# log10(1 + 1/d) to 12 dp — SHARED literals, never engine-side libm
_BENFORD_P = {
    1: "0.301029995664",
    2: "0.176091259056",
    3: "0.124938736608",
    4: "0.096910013008",
    5: "0.079181246048",
    6: "0.066946789631",
    7: "0.057991946978",
    8: "0.051152522447",
    9: "0.045757490561",
}


def _benford_sql(dialect: str) -> str:
    strtype = "STRING" if dialect == "spark" else "VARCHAR"
    p_case = " ".join(
        f"WHEN digit = {d} THEN CAST({p} AS DOUBLE)" for d, p in _BENFORD_P.items()
    )
    return f"""
WITH digits AS (
  SELECT CAST(substr(CAST(n_chars AS {strtype}), 1, 1) AS INT) AS digit
  FROM documents WHERE n_chars > 0),
obs AS (SELECT digit, CAST(count(*) AS BIGINT) AS n_obs FROM digits GROUP BY digit),
tot AS (SELECT CAST(sum(n_obs) AS BIGINT) AS n FROM obs),
graded AS (
  SELECT digit, n_obs, (CASE {p_case} END) AS p, tot.n AS n
  FROM obs CROSS JOIN tot)
SELECT digit, n_obs,
       round(n * p, 6) AS exp_n,
       round((n_obs - n * p) * (n_obs - n * p) / (n * p), 6) AS chi2_term
FROM graded
"""


def q_benford_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leading-digit (Benford) screen over ``n_chars``: observed
    leading-digit counts vs Benford's-law expectation with per-digit
    χ² contributions — the data-forensics check that catches
    synthetic, truncated, or corrupt numeric columns (organic
    size-like quantities follow Benford; fixed-width generators do
    not).  The verdict is the χ² mass, read per digit.

    Cross-engine: the leading digit comes from integer→string substr
    (portable, no float log10); the nine Benford probabilities are
    pre-printed 12-dp literals SHARED by both engines (the RBO-weight
    doctrine), so expected counts are identical doubles.

    Scale: map-side digit extraction, one partial-agg groupBy to ≤ 9
    rows, a 1-row total broadcast back.
    """
    _q._register_views(spark, sf_dir, ["documents"])
    return spark.sql(_benford_sql("spark"))


ORACLE_BENFORD_CHECK = _benford_sql("duck")


# ---------------------------------------------------------------------------
# moments_profile
# ---------------------------------------------------------------------------


def _moments_sql(dialect: str) -> str:
    """Dual-dialect per-source skewness / excess kurtosis of
    ``n_chars`` via n-scaled integer central moments: with raw power
    sums S_k = Σ x^k (exact integers, DECIMAL(38,0)-promoted),

        M2 = n·S2 − S1²                      (= n²·m2)
        M3 = n²·S3 − 3n·S2·S1 + 2·S1³        (= n³·m3)
        M4 = n³·S4 − 4n²·S3·S1 + 6n·S2·S1² − 3·S1⁴   (= n⁴·m4)

    the scale factors cancel exactly —
    g1 = m3/m2^1.5 = (M3/n³)/(M2/n²)^1.5 = M3/(M2·sqrt(M2)), and
    g2 = m4/m2² − 3 = (M4/n⁴)/(M2/n²)² − 3 = M4/M2² − 3.

    The only floats are the final two expressions over DECIMAL-exact
    integers (x·sqrt(x) in place of libm pow(x, 1.5)), rounded to 6.
    """
    dec = "DECIMAL(38,0)"
    return f"""
WITH raw AS (
  SELECT source, CAST(n_chars AS {dec}) AS x FROM documents),
s AS (
  SELECT source,
         CAST(count(*) AS {dec}) AS n,
         CAST(sum(x) AS {dec}) AS s1,
         CAST(sum(x * x) AS {dec}) AS s2,
         CAST(sum(x * x * x) AS {dec}) AS s3,
         CAST(sum(x * x * x * x) AS {dec}) AS s4
  FROM raw GROUP BY source),
m AS (
  SELECT source, CAST(n AS BIGINT) AS n_docs,
         CAST(n * s2 - s1 * s1 AS DOUBLE) AS m2,
         CAST(n * n * s3 - 3 * n * s2 * s1 + 2 * s1 * s1 * s1 AS DOUBLE) AS m3,
         CAST(n * n * n * s4 - 4 * n * n * s3 * s1
              + 6 * n * s2 * s1 * s1 - 3 * s1 * s1 * s1 * s1 AS DOUBLE) AS m4
  FROM s)
SELECT source, n_docs,
       round(m3 / (m2 * sqrt(m2)), 6) AS skewness,
       round(m4 / (m2 * m2) - 3, 6) AS kurtosis_excess
FROM m WHERE m2 > 0
"""


def q_moments_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source skewness and excess kurtosis of the document length
    distribution — the shape profile behind "is this domain
    heavy-tailed?" mixture decisions (a high-kurtosis source needs a
    length cap before uniform sampling; the ``autocorr_daily`` /
    ``zipf_fit`` integer-moment doctrine applied to shape statistics).

    Scale: ONE partial-aggregated groupBy(source) computes all four
    power sums simultaneously (DECIMAL(38,0) from the start, so no
    BIGINT overflow at any corpus size); the moment polynomials are
    per-source row arithmetic.  Zero-variance sources drop out via the
    m2 > 0 guard on both engines.
    """
    _q._register_views(spark, sf_dir, ["documents"])
    return spark.sql(_moments_sql("spark"))


ORACLE_MOMENTS_PROFILE = _moments_sql("duck")


AUDIT_QUERIES = {
    "char_lm_bpb": q_char_lm_bpb,
    "graph_modularity": q_graph_modularity,
    "join_size_audit": q_join_size_audit,
    "benford_check": q_benford_check,
    "moments_profile": q_moments_profile,
}

AUDIT_ORACLES = {
    "char_lm_bpb": ORACLE_CHAR_LM_BPB,
    "graph_modularity": ORACLE_GRAPH_MODULARITY,
    "join_size_audit": ORACLE_JOIN_SIZE_AUDIT,
    "benford_check": ORACLE_BENFORD_CHECK,
    "moments_profile": ORACLE_MOMENTS_PROFILE,
}

_q.QUERIES.update(AUDIT_QUERIES)
_q.ORACLES.update(AUDIT_ORACLES)
