"""Round-11 analysis operators — published quality-filter rules,
detector-agreement statistics, and graph-structure metrics
(SURVEY.md §7 phase 5 extension; no reference counterpart — the
reference is a 479-line pandas ETL).

Families in this module:

- quality filtering: ``qc6`` (the Gopher rules scorecard, Rae et al.
  2021 — the published heuristic set large-corpus curation actually
  ships)
- evaluation harness: ``kappa1`` (Cohen's kappa between two deployed
  detectors), ``mcc1`` (Matthews correlation of the cls1 rule),
  ``ap1`` (average precision — the PR-curve companion to auc1's ROC)
- graph structure: ``assort1`` (degree assortativity, Newman 2002 —
  exact rational on a doubled edge list), ``lcc1`` (local clustering
  coefficient, Watts & Strogatz 1998, off tri1's triangle corners)
- diversity/divergence: ``simp1`` (unbiased Simpson diversity),
  ``jsd1`` (Jensen-Shannon divergence — the SYMMETRIC, bounded
  companion to psi1/ks1 drift)
- storage modeling: ``rle1`` (run-length-encoding payoff of the
  time-clustered layout per column)

Determinism contract (registry docstring): counts are integers; every
window order ends in a unique tiebreak key; ratios exit through
integral division of exact integers (sign-shifted where a numerator
can go negative — the mk1 OFF trick); logarithms appear only as the
6dp-then-1e6 micro-nat pin of a ratio of exact integers (the
psi1/zipf1 precedent). No RNG, no floats accumulated in partition
order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.materialize import pin
from ..functions.dedup import CE_HASH64_SQL, ce_hash64, tokens
from ..functions.similarity import dot_decimal as _dot
from .registry import load, load_spread, materialized, query

# sign-safe integral division shift (the mk1 precedent): for den > 0,
# (num + OFF*den) div den - OFF == floor(num/den) exactly for any sign
# of num while |num| <= OFF*den — both engines agree because the
# shifted numerator is non-negative
_OFF = 10**12


# --------------------------------------------------------------------------
# qc6 — Gopher quality rules scorecard (round 11)
# --------------------------------------------------------------------------

_QC6_SQL = r"""
WITH d AS (
  SELECT source,
         regexp_extract_all(text, '\S+') AS toks
  FROM documents
  WHERE doc_id IS NOT NULL AND text IS NOT NULL AND source IS NOT NULL
),
feat AS (
  SELECT source,
         CAST(len(toks) AS BIGINT) AS n_words,
         CAST(coalesce(list_sum(list_transform(toks, w -> length(w))), 0)
              AS BIGINT) AS sum_len,
         CAST((SELECT max(c) FROM (
                 SELECT count(*) AS c FROM unnest(toks) AS t(w) GROUP BY w
               )) AS BIGINT) AS top_c,
         CAST(len(list_intersect(list_distinct(toks),
              ['the', 'a', 'of', 'to', 'and'])) AS BIGINT) AS stop_hits
  FROM d
),
rules AS (
  SELECT source,
         CASE WHEN n_words >= 50 AND n_words <= 100000
              THEN 1 ELSE 0 END AS r_wc,
         CASE WHEN 3 * n_words <= sum_len AND sum_len <= 10 * n_words
              THEN 1 ELSE 0 END AS r_mwl,
         CASE WHEN 5 * top_c <= n_words THEN 1 ELSE 0 END AS r_rep,
         CASE WHEN stop_hits >= 2 THEN 1 ELSE 0 END AS r_stop
  FROM feat
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(r_wc) AS BIGINT) AS pass_word_count,
       CAST(sum(r_mwl) AS BIGINT) AS pass_mean_word_len,
       CAST(sum(r_rep) AS BIGINT) AS pass_repetition,
       CAST(sum(r_stop) AS BIGINT) AS pass_stop_words,
       CAST(sum(r_wc * r_mwl * r_rep * r_stop) AS BIGINT) AS pass_all,
       CAST((1000 * sum(r_wc * r_mwl * r_rep * r_stop)) // count(*)
            AS BIGINT) AS pass_all_permille
FROM rules GROUP BY source
"""


@query("qc6_gopher_rules", oracle=_QC6_SQL)
def qc6_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher quality-rule scorecard per source (Rae et al. 2021,
    "Scaling Language Models: ... Gopher", Appendix A1.1 — THE
    published heuristic filter set that large-corpus curation
    pipelines ship, later reused by MassiveText/RefinedWeb/Dolma):
    word count in [50, 1e5]; mean word length in [3, 10]; most
    frequent word <= 20% of tokens (the repetition rule); document
    must contain >= 2 of a required stop-word set (adapted to this
    corpus's vocabulary: the/a/of/to/and — Gopher's own list is 8
    English function words). Where qc1 scores ONE blended quality
    number, this emits the per-RULE pass counts a curation rollout
    tunes against — which rule is doing the filtering is the
    actionable readout (Gopher's authors report exactly this
    per-rule ablation).

    Exactness: every rule is an integer cross-multiplication
    (3*words <= sum_len, 5*top_c <= words — never a float ratio);
    pass counts are 0/1 sums; the one emitted ratio is an integral
    permille division.

    Scale shape: tokenization + per-doc features in one projection
    (the top-word count via a bounded per-doc aggregate over the
    exploded token list — map-side combinable on (doc, word)), then
    one (source) counting groupBy. No joins, no windows over the
    corpus."""
    docs = (
        load(spark, sf_dir, "documents")
        .filter(
            F.col("doc_id").isNotNull()
            & F.col("text").isNotNull()
            & F.col("source").isNotNull()
        )
        .select("doc_id", "source", tokens(F.col("text")).alias("toks"))
    )
    # top-word count: explode -> (doc, word) counts -> per-doc max;
    # map-side combinable both levels, bounded by per-doc vocabulary
    top = (
        docs.select("doc_id", F.explode("toks").alias("w"))
        .groupBy("doc_id", "w")
        .agg(F.count("*").alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").cast("long").alias("top_c"))
    )
    # LEFT join: a token-less doc (empty/whitespace text) has no
    # exploded rows and no top_c — it must stay in the census with
    # top_c NULL (the repetition rule then 3-value-logics to fail,
    # matching the oracle's correlated-subquery NULL)
    feat = docs.join(top, "doc_id", "left").select(
        "source",
        F.size("toks").cast("long").alias("n_words"),
        F.aggregate(
            F.transform(F.col("toks"), lambda w: F.length(w)),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias("sum_len"),
        "top_c",
        F.size(
            F.array_intersect(
                F.array_distinct("toks"),
                F.array(
                    F.lit("the"), F.lit("a"), F.lit("of"),
                    F.lit("to"), F.lit("and"),
                ),
            )
        ).cast("long").alias("stop_hits"),
    )
    rules = feat.select(
        "source",
        F.when(
            (F.col("n_words") >= 50) & (F.col("n_words") <= 100000), 1
        ).otherwise(0).alias("r_wc"),
        F.when(
            (3 * F.col("n_words") <= F.col("sum_len"))
            & (F.col("sum_len") <= 10 * F.col("n_words")),
            1,
        ).otherwise(0).alias("r_mwl"),
        F.when(5 * F.col("top_c") <= F.col("n_words"), 1)
        .otherwise(0)
        .alias("r_rep"),
        F.when(F.col("stop_hits") >= 2, 1).otherwise(0).alias("r_stop"),
    )
    return rules.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("r_wc").cast("long").alias("pass_word_count"),
        F.sum("r_mwl").cast("long").alias("pass_mean_word_len"),
        F.sum("r_rep").cast("long").alias("pass_repetition"),
        F.sum("r_stop").cast("long").alias("pass_stop_words"),
        F.sum(
            F.col("r_wc") * F.col("r_mwl") * F.col("r_rep") * F.col("r_stop")
        ).cast("long").alias("pass_all"),
        F.expr(
            "CAST((1000 * sum(r_wc * r_mwl * r_rep * r_stop))"
            " div count(*) AS BIGINT)"
        ).alias("pass_all_permille"),
    )


# --------------------------------------------------------------------------
# kappa1 — Cohen's kappa between two deployed detectors (round 11)
# --------------------------------------------------------------------------

_KAPPA1_SQL = f"""
WITH d AS (
  SELECT md5(text) AS h,
         CAST(len(regexp_extract_all(text, '\\S+')) AS BIGINT) AS n_tok,
         CAST(length(text) AS BIGINT) AS n_chr
  FROM documents WHERE doc_id IS NOT NULL AND text IS NOT NULL
),
hc AS (SELECT h, count(*) AS c FROM d GROUP BY h),
flags AS (
  SELECT CASE WHEN hc.c >= 2 THEN 1 ELSE 0 END AS fa,
         CASE WHEN d.n_tok < 20 OR d.n_chr > 12 * d.n_tok
              THEN 1 ELSE 0 END AS fb
  FROM d JOIN hc USING (h)
),
cm AS (
  SELECT CAST(count(*) FILTER (fa = 1 AND fb = 1) AS HUGEINT) AS a,
         CAST(count(*) FILTER (fa = 1 AND fb = 0) AS HUGEINT) AS b,
         CAST(count(*) FILTER (fa = 0 AND fb = 1) AS HUGEINT) AS c,
         CAST(count(*) FILTER (fa = 0 AND fb = 0) AS HUGEINT) AS d
  FROM flags
)
SELECT CAST(a AS BIGINT) AS both_flag,
       CAST(b AS BIGINT) AS only_dup,
       CAST(c AS BIGINT) AS only_qfail,
       CAST(d AS BIGINT) AS neither,
       CAST((1000 * (a + d)) // NULLIF(a + b + c + d, 0) AS BIGINT)
         AS agree_permille,
       CAST((1000000 * ((a + b + c + d) * (a + d)
                        - ((a + b) * (a + c) + (c + d) * (b + d)))
             + {_OFF} * NULLIF((a + b + c + d) * (a + b + c + d)
                        - ((a + b) * (a + c) + (c + d) * (b + d)), 0))
            // NULLIF((a + b + c + d) * (a + b + c + d)
                      - ((a + b) * (a + c) + (c + d) * (b + d)), 0)
            - {_OFF} AS BIGINT) AS kappa_micro
FROM cm
"""


@query("kappa1_cohen_kappa", oracle=_KAPPA1_SQL)
def kappa1_cohen_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa (Cohen 1960) between two DEPLOYED document
    detectors — the exact-duplicate flag (d1's md5 rule) and the
    quality-gate fail (card1's qpass negation: under 20 tokens or
    over 12 chars/token). Raw agreement overstates concordance when
    both detectors fire rarely; kappa = (p_o - p_e)/(1 - p_e)
    discounts chance agreement, which is the number a curation
    review asks for before treating two filters as redundant (da1
    asks the same question of the two SKETCH families via pair-set
    Jaccard; kappa asks it of any two row-level flags on the same
    population).

    Exactness: the four cells come from one FILTERed counting
    aggregate; kappa exits as ONE integral micro division —
    kappa = (n*(a+d) - pe_n) / (n^2 - pe_n) with
    pe_n = (a+b)(a+c) + (c+d)(b+d) — made sign-safe with the OFF
    shift (kappa is negative when agreement is below chance; den >= 0
    by construction, NULL when every doc lands in one cell).

    Scale shape: one md5-keyed counting groupBy (the d1 shape) + one
    1-row aggregate; no pairwise anything."""
    d = (
        load(spark, sf_dir, "documents")
        .filter(F.col("doc_id").isNotNull() & F.col("text").isNotNull())
        .select(
            F.md5("text").alias("h"),
            F.size(tokens(F.col("text"))).cast("long").alias("n_tok"),
            F.length("text").cast("long").alias("n_chr"),
        )
    )
    hc = d.groupBy("h").agg(F.count("*").alias("c"))
    flags = d.join(hc, "h").select(
        F.when(F.col("c") >= 2, 1).otherwise(0).alias("fa"),
        F.when(
            (F.col("n_tok") < 20) | (F.col("n_chr") > 12 * F.col("n_tok")), 1
        ).otherwise(0).alias("fb"),
    )
    dec = "decimal(38,0)"
    cm = flags.agg(
        F.count(F.when((F.col("fa") == 1) & (F.col("fb") == 1), 1))
        .cast(dec).alias("a"),
        F.count(F.when((F.col("fa") == 1) & (F.col("fb") == 0), 1))
        .cast(dec).alias("b"),
        F.count(F.when((F.col("fa") == 0) & (F.col("fb") == 1), 1))
        .cast(dec).alias("c"),
        F.count(F.when((F.col("fa") == 0) & (F.col("fb") == 0), 1))
        .cast(dec).alias("d"),
    )
    pe_n = "((a + b) * (a + c) + (c + d) * (b + d))"
    den = f"((a + b + c + d) * (a + b + c + d) - {pe_n})"
    return cm.select(
        F.col("a").cast("long").alias("both_flag"),
        F.col("b").cast("long").alias("only_dup"),
        F.col("c").cast("long").alias("only_qfail"),
        F.col("d").cast("long").alias("neither"),
        F.expr(
            "CAST((1000 * (a + d)) div nullif(a + b + c + d, 0) AS BIGINT)"
        ).alias("agree_permille"),
        F.expr(
            f"CAST((1000000 * ((a + b + c + d) * (a + d) - {pe_n})"
            f" + {_OFF} * nullif({den}, 0)) div nullif({den}, 0)"
            f" - {_OFF} AS BIGINT)"
        ).alias("kappa_micro"),
    )


# --------------------------------------------------------------------------
# mcc1 — Matthews correlation of the cls1 decision rule (round 11)
# --------------------------------------------------------------------------

_MCC1_SQL = """
WITH scored AS (
  SELECT (lang = 'en') AS truth,
         (50 * CAST(len(regexp_extract_all(lower(text),
                        '\\b(the|a|of|to|and)\\b')) AS BIGINT)
          > CAST(len(regexp_extract_all(text, '\\S+')) AS BIGINT)) AS pred
  FROM documents WHERE lang IS NOT NULL AND text IS NOT NULL
),
cm AS (
  SELECT CAST(count(*) FILTER (truth AND pred) AS HUGEINT) AS tp,
         CAST(count(*) FILTER (NOT truth AND pred) AS HUGEINT) AS fp,
         CAST(count(*) FILTER (truth AND NOT pred) AS HUGEINT) AS fn,
         CAST(count(*) FILTER (NOT truth AND NOT pred) AS HUGEINT) AS tn
  FROM scored
)
SELECT CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
       CAST(fn AS BIGINT) AS fn, CAST(tn AS BIGINT) AS tn,
       CAST(sign(tp * tn - fp * fn) AS BIGINT) AS mcc_sign,
       CAST((1000000 * (tp * tn - fp * fn) * (tp * tn - fp * fn))
            // NULLIF((tp + fp) * (tp + fn) * (tn + fp) * (tn + fn), 0)
            AS BIGINT) AS mcc_sq_micro
FROM cm
"""


@query("mcc1_matthews_corr", oracle=_MCC1_SQL)
def mcc1_matthews_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matthews correlation coefficient (Matthews 1975) of cls1's
    stopword decision rule against the language label — the single
    imbalance-robust scalar the confusion matrix reduces to: unlike
    accuracy or F1 it uses all four cells symmetrically, so a rule
    that games the majority class scores near 0, not near 1
    (Chicco & Jurman 2020 argue it as the default binary-eval
    metric). Completes the evaluation harness: cls1 = the cells +
    P/R/F1, auc1 = threshold-free ordering, mcc1 = the one-number
    balanced summary.

    Exactness: MCC needs sqrt((tp+fp)(tp+fn)(tn+fp)(tn+fn)), so the
    emitted figure is the SIGNED SQUARE in micro units — mcc_sign
    carries sign(tp*tn - fp*fn) and mcc_sq_micro = 1e6*(tp*tn-fp*fn)^2
    / denom, both exact integers (the corr1 no-sqrt convention);
    MCC = mcc_sign * sqrt(mcc_sq_micro/1e6) for any float consumer.
    DECIMAL(38,0) width bound (the anova1 convention): the numerator
    1e6*(tp*tn-fp*fn)^2 is <= 1e6*n^4/16, which fits 38 digits only
    up to n ~ 2e8 docs (~1e8 with margin); past that Spark's
    non-ANSI decimal overflow yields NULL silently while DuckDB
    HUGEINT errors, so the engines diverge. For a larger corpus,
    divide the counts by a common 10^k first — MCC is
    scale-invariant in the four cells.

    Scale shape: identical to cls1 — one pass, one 1-row aggregate,
    zero joins."""
    txt = F.col("text")
    hits = F.size(
        F.regexp_extract_all(
            F.lower(txt), F.lit(r"\b(the|a|of|to|and)\b"), 0
        )
    ).cast("long")
    toks = F.size(F.regexp_extract_all(txt, F.lit(r"\S+"), 0)).cast("long")
    scored = (
        load(spark, sf_dir, "documents")
        .filter(F.col("lang").isNotNull() & txt.isNotNull())
        .select(
            (F.col("lang") == "en").alias("truth"),
            (50 * hits > toks).alias("pred"),
        )
    )
    t, p = F.col("truth"), F.col("pred")
    dec = "decimal(38,0)"
    cm = scored.agg(
        F.count(F.when(t & p, 1)).cast(dec).alias("tp"),
        F.count(F.when(~t & p, 1)).cast(dec).alias("fp"),
        F.count(F.when(t & ~p, 1)).cast(dec).alias("fn"),
        F.count(F.when(~t & ~p, 1)).cast(dec).alias("tn"),
    )
    return cm.select(
        F.col("tp").cast("long").alias("tp"),
        F.col("fp").cast("long").alias("fp"),
        F.col("fn").cast("long").alias("fn"),
        F.col("tn").cast("long").alias("tn"),
        F.expr("CAST(sign(tp * tn - fp * fn) AS BIGINT)").alias("mcc_sign"),
        F.expr(
            "CAST((1000000 * (tp * tn - fp * fn) * (tp * tn - fp * fn))"
            " div nullif((tp + fp) * (tp + fn) * (tn + fp) * (tn + fn), 0)"
            " AS BIGINT)"
        ).alias("mcc_sq_micro"),
    )


# --------------------------------------------------------------------------
# assort1 — degree assortativity of the order graph (round 11)
# --------------------------------------------------------------------------

_ASSORT1_SQL = """
WITH e0 AS (
  SELECT DISTINCT CAST(o.o_custkey * 2 AS BIGINT) AS src,
         CAST(l.l_suppkey * 2 + 1 AS BIGINT) AS dst
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
),
e AS (
  SELECT src, dst FROM e0
  UNION ALL SELECT dst AS src, src AS dst FROM e0
),
deg AS (SELECT src AS node, CAST(count(*) AS HUGEINT) AS d FROM e GROUP BY src),
ed AS (
  SELECT ds.d AS j, dd.d AS k
  FROM e
  JOIN deg ds ON ds.node = e.src
  JOIN deg dd ON dd.node = e.dst
),
s AS (
  SELECT CAST(count(*) AS HUGEINT) AS m,
         CAST(sum(j) AS HUGEINT) AS sj,
         CAST(sum(j * j) AS HUGEINT) AS sj2,
         CAST(sum(j * k) AS HUGEINT) AS sjk
  FROM ed
)
SELECT CAST(m AS BIGINT) AS n_edge_ends,
       CAST(sign(m * sjk - sj * sj) AS BIGINT) AS r_sign,
       CAST((1000000 * abs(m * sjk - sj * sj))
            // NULLIF(m * sj2 - sj * sj, 0) AS BIGINT) AS abs_r_micro
FROM s
"""


@query("assort1_degree_assortativity", oracle=_ASSORT1_SQL)
def assort1_degree_assortativity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Degree assortativity (Newman 2002, "Assortative mixing in
    networks") of the customer-supplier order graph: the Pearson
    correlation of endpoint degrees across edges — positive means
    hubs link to hubs (social-network shape), negative means hubs
    link to leaves (the disassortative shape typical of bipartite
    commerce/web graphs). The one-scalar structural summary that
    tells a sampling/partitioning strategy whether degree-based
    salting will face hub-hub edges; complements gr1/hits1 (who is
    important) with HOW the important nodes wire to each other.

    Exactness: on a DOUBLED edge list the two endpoint marginals are
    identical (every edge contributes (j,k) and (k,j)), so Newman's
    r = (M*S_jk - S_j^2) / (M*S_j2 - S_j^2) EXACTLY — the usual
    sqrt(den_j * den_k) collapses because den_j = den_k, and the
    whole statistic is one integral micro division of exact HUGEINT /
    DECIMAL(38,0) sums; sign emitted separately so the division runs
    on non-negatives (the mcc1 convention). Denominator >= 0 by
    Cauchy-Schwarz, NULL on a degree-regular graph (zero variance).

    Scale shape: one distinct edge build (the gr1 join), one degree
    groupBy, two node-sized degree joins back onto edges (broadcast
    at this scale; at billion-node scale the same size gate as the
    label loops applies — deg is one row per node), one 1-row
    aggregate."""
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    e0 = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(
            (F.col("o_custkey") * 2).cast("long").alias("src"),
            (F.col("l_suppkey") * 2 + 1).cast("long").alias("dst"),
        )
        .distinct()
    )
    # pin the doubled edge list (edge-bounded — the gr1/hits1 persist
    # precedent): deg + the two degree joins reference it 4× and each
    # reference replays the corpus join + distinct (guide §3.3; A/B
    # git show 555704a:tools/ab_r14_pin.json)
    e = pin(
        e0.unionAll(
            e0.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
    )
    deg = e.groupBy(F.col("src").alias("node")).agg(
        F.count("*").cast("decimal(38,0)").alias("d")
    )
    ed = (
        e.join(
            F.broadcast(deg.withColumnRenamed("node", "src")).withColumnRenamed(
                "d", "j"
            ),
            "src",
        )
        .join(
            F.broadcast(deg.withColumnRenamed("node", "dst")).withColumnRenamed(
                "d", "k"
            ),
            "dst",
        )
        .select("j", "k")
    )
    s = ed.agg(
        F.count("*").cast("decimal(38,0)").alias("m"),
        F.sum("j").cast("decimal(38,0)").alias("sj"),
        F.sum(F.col("j") * F.col("j")).cast("decimal(38,0)").alias("sj2"),
        F.sum(F.col("j") * F.col("k")).cast("decimal(38,0)").alias("sjk"),
    )
    return s.select(
        F.col("m").cast("long").alias("n_edge_ends"),
        F.expr("CAST(sign(m * sjk - sj * sj) AS BIGINT)").alias("r_sign"),
        F.expr(
            "CAST((1000000 * abs(m * sjk - sj * sj))"
            " div nullif(m * sj2 - sj * sj, 0) AS BIGINT)"
        ).alias("abs_r_micro"),
    )


# --------------------------------------------------------------------------
# lcc1 — local clustering coefficient (round 11)
# --------------------------------------------------------------------------

_LCC_MIN_SUPPORT = 20  # keep in sync with tri1 (curation.py)

_LCC1_SQL = f"""
WITH toks AS (
  SELECT doc_id, list_distinct(regexp_extract_all(text, '\\S+')) AS l
  FROM documents
),
dw AS (SELECT doc_id, unnest(l) AS w FROM toks),
edges AS (
  SELECT a.w AS u, b.w AS v
  FROM dw a JOIN dw b ON a.doc_id = b.doc_id AND a.w < b.w
  GROUP BY a.w, b.w
  HAVING count(*) >= {_LCC_MIN_SUPPORT}
),
tri AS (
  SELECT e1.u AS a, e1.v AS b, e2.v AS c
  FROM edges e1
  JOIN edges e2 ON e1.v = e2.u
  JOIN edges e3 ON e3.u = e1.u AND e3.v = e2.v
),
tcnt AS (
  SELECT node, CAST(count(*) AS BIGINT) AS n_tri
  FROM (SELECT a AS node FROM tri
        UNION ALL SELECT b FROM tri
        UNION ALL SELECT c FROM tri)
  GROUP BY node
),
deg AS (
  SELECT node, CAST(count(*) AS BIGINT) AS deg
  FROM (SELECT u AS node FROM edges UNION ALL SELECT v FROM edges)
  GROUP BY node
)
SELECT d.node, d.deg,
       coalesce(t.n_tri, 0) AS n_tri,
       CAST((2000 * coalesce(t.n_tri, 0)) // (d.deg * (d.deg - 1))
            AS BIGINT) AS lcc_permille
FROM deg d LEFT JOIN tcnt t USING (node)
WHERE d.deg >= 2
ORDER BY lcc_permille DESC, node
"""


@query("lcc1_clustering_coefficient", oracle=_LCC1_SQL)
def lcc1_clustering_coefficient(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Local clustering coefficient (Watts & Strogatz 1998,
    "Collective dynamics of 'small-world' networks") per node of the
    word co-occurrence graph: C(v) = 2*tri(v) / (deg(v)*(deg(v)-1)) —
    how close each word's neighborhood is to a clique. tri1 counts
    the triangles; this NORMALIZES them by the possible wedge count,
    which is the figure that separates a genuine topic cluster
    (high C at moderate degree) from a promiscuous stop-word hub
    (huge degree, near-zero C) — the standard small-world diagnostic
    a co-occurrence-based phrase miner (pmi1, phr1) sanity-checks
    its graph with.

    Exactness: triangle and degree counts are exact integers off the
    same support-{_LCC_MIN_SUPPORT} edge set as tri1 (kept in sync);
    the coefficient exits as one integral permille division of
    non-negatives; nodes of degree < 2 are excluded (the coefficient
    is undefined there — the published convention).

    Scale shape: tri1's oriented wedge join (low→high orientation
    bounds fan-out by the smaller-degree endpoint) plus ONE extra
    vocabulary-sized degree aggregate and a node-keyed left join —
    the normalization adds no corpus-scale work. Final order ends in
    the unique node key."""
    from pyspark.storagelevel import StorageLevel

    dw = load(spark, sf_dir, "documents").select(
        "doc_id", F.explode(F.array_distinct(tokens(F.col("text")))).alias("w")
    )
    a = dw.alias("a")
    b = dw.alias("b")
    edges = (
        a.join(
            b,
            (F.col("a.doc_id") == F.col("b.doc_id"))
            & (F.col("a.w") < F.col("b.w")),
        )
        .groupBy(F.col("a.w").alias("u"), F.col("b.w").alias("v"))
        .agg(F.count("*").alias("sup"))
        .filter(F.col("sup") >= _LCC_MIN_SUPPORT)
        .select("u", "v")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    e1 = edges.alias("e1")
    e2 = edges.alias("e2")
    e3 = edges.alias("e3")
    tri = (
        e1.join(e2, F.col("e1.v") == F.col("e2.u"))
        .join(
            e3,
            (F.col("e3.u") == F.col("e1.u"))
            & (F.col("e3.v") == F.col("e2.v")),
            "left_semi",
        )
        .select(
            F.col("e1.u").alias("a"),
            F.col("e1.v").alias("b"),
            F.col("e2.v").alias("c"),
        )
    )
    tcnt = (
        tri.select(F.col("a").alias("node"))
        .unionAll(tri.select("b"))
        .unionAll(tri.select("c"))
        .groupBy("node")
        .agg(F.count("*").cast("long").alias("n_tri"))
    )
    deg = (
        edges.select(F.col("u").alias("node"))
        .unionAll(edges.select("v"))
        .groupBy("node")
        .agg(F.count("*").cast("long").alias("deg"))
    )
    return (
        deg.filter(F.col("deg") >= 2)
        .join(tcnt, "node", "left")
        .select(
            "node",
            "deg",
            F.coalesce(F.col("n_tri"), F.lit(0)).cast("long").alias("n_tri"),
            F.expr(
                "CAST((2000 * coalesce(n_tri, 0)) div (deg * (deg - 1))"
                " AS BIGINT)"
            ).alias("lcc_permille"),
        )
        .orderBy(F.col("lcc_permille").desc(), "node")
    )


# --------------------------------------------------------------------------
# simp1 — unbiased Simpson diversity of the language mix (round 11)
# --------------------------------------------------------------------------

_SIMP1_SQL = """
WITH lc AS (
  SELECT source, lang, CAST(count(*) AS HUGEINT) AS c
  FROM documents WHERE source IS NOT NULL AND lang IS NOT NULL
  GROUP BY source, lang
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_langs,
       CAST(sum(c) AS BIGINT) AS n_docs,
       CAST(1000000 - (1000000 * sum(c * (c - 1)))
            // NULLIF(sum(c) * (sum(c) - 1), 0) AS BIGINT)
         AS simpson_micro
FROM lc GROUP BY source
"""


@query("simp1_simpson_diversity", oracle=_SIMP1_SQL)
def simp1_simpson_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unbiased Simpson diversity (Simpson 1949) of each source's
    language mix: 1 - sum(c_i*(c_i-1)) / (n*(n-1)) — the probability
    two documents drawn WITHOUT replacement differ in language.
    gini1 measures the same mix with the plug-in impurity
    sum(p_i^2), which is biased low for small groups; the
    without-replacement form is exactly unbiased, which matters when
    comparing sources of very different sizes (the small source's
    diversity isn't penalized by its own sample size). The
    ecology-standard diversity metric, used here as the
    language-balance readout a multilingual mixing plan (mix1, drm1)
    monitors.

    Exactness: numerator and denominator are exact integer products
    of counts; ONE integral micro division (both sides non-negative;
    NULL for single-doc sources where the statistic is undefined).

    Scale shape: one (source, lang) counting groupBy — map-side
    combinable — then a source-sized aggregate. No joins."""
    lc = (
        load(spark, sf_dir, "documents")
        .filter(F.col("source").isNotNull() & F.col("lang").isNotNull())
        .groupBy("source", "lang")
        .agg(F.count("*").cast("decimal(38,0)").alias("c"))
    )
    return lc.groupBy("source").agg(
        F.count("*").cast("long").alias("n_langs"),
        F.sum("c").cast("long").alias("n_docs"),
        F.expr(
            "CAST(1000000 - (1000000 * sum(c * (c - 1)))"
            " div nullif(sum(c) * (sum(c) - 1), 0) AS BIGINT)"
        ).alias("simpson_micro"),
    )


# --------------------------------------------------------------------------
# jsd1 — Jensen-Shannon divergence of length distributions (round 11)
# --------------------------------------------------------------------------

_JSD_BUCKET_W = 50
_JSD_N_BUCKETS = 13  # the drift1/psi1 length grid, kept in sync

_JSD1_SQL = f"""
WITH docs AS (
  SELECT source,
         least(CAST(floor(CAST(n_chars AS DOUBLE) / {_JSD_BUCKET_W})
                    AS BIGINT), {_JSD_N_BUCKETS - 1}) AS b
  FROM documents WHERE source IS NOT NULL AND n_chars IS NOT NULL
),
srcs AS (SELECT DISTINCT source FROM docs),
buckets AS (
  SELECT s.source, u.b
  FROM srcs s, UNNEST(range(0, {_JSD_N_BUCKETS})) u(b)
),
sb AS (
  SELECT source, b, CAST(count(*) AS BIGINT) AS c
  FROM docs GROUP BY source, b
),
tb AS (SELECT b, CAST(count(*) AS BIGINT) AS c FROM docs GROUP BY b),
grid AS (
  SELECT bu.source, bu.b,
         coalesce(sb.c, 0) + 1 AS ca,
         coalesce((SELECT tb.c FROM tb WHERE tb.b = bu.b), 0)
           - coalesce(sb.c, 0) + 1 AS cb
  FROM buckets bu LEFT JOIN sb ON sb.source = bu.source AND sb.b = bu.b
),
tots AS (
  SELECT source,
         CAST(sum(ca) AS HUGEINT) AS na, CAST(sum(cb) AS HUGEINT) AS nb
  FROM grid GROUP BY source
),
terms AS (
  SELECT g.source,
         CAST(g.ca AS HUGEINT)
           * CAST(round(round(ln((2 * CAST(g.ca AS DOUBLE)
                                    * CAST(t.nb AS DOUBLE))
                  / (CAST(g.ca AS DOUBLE) * CAST(t.nb AS DOUBLE)
                     + CAST(g.cb AS DOUBLE) * CAST(t.na AS DOUBLE))), 6)
                  * 1e6) AS HUGEINT) AS n1,
         CAST(g.cb AS HUGEINT)
           * CAST(round(round(ln((2 * CAST(g.cb AS DOUBLE)
                                    * CAST(t.na AS DOUBLE))
                  / (CAST(g.ca AS DOUBLE) * CAST(t.nb AS DOUBLE)
                     + CAST(g.cb AS DOUBLE) * CAST(t.na AS DOUBLE))), 6)
                  * 1e6) AS HUGEINT) AS n2,
         t.na, t.nb
  FROM grid g JOIN tots t USING (source)
)
SELECT source,
       CAST((sum(n1) + {_OFF} * any_value(na)) // any_value(na) - {_OFF}
            AS BIGINT) AS kl_pm_micro,
       CAST((sum(n2) + {_OFF} * any_value(nb)) // any_value(nb) - {_OFF}
            AS BIGINT) AS kl_qm_micro,
       CAST(((sum(n1) + {_OFF} * any_value(na)) // any_value(na) - {_OFF}
             + (sum(n2) + {_OFF} * any_value(nb)) // any_value(nb) - {_OFF}
             + 2 * {_OFF}) // 2 - {_OFF} AS BIGINT) AS jsd_micro
FROM terms GROUP BY source
"""


@query("jsd1_jensen_shannon", oracle=_JSD1_SQL)
def jsd1_jensen_shannon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jensen-Shannon divergence (Lin 1991) of each source's
    document-length distribution against the rest of the corpus over
    the drift1/psi1 grid, Laplace +1 smoothed: JSD = KL(p‖m)/2 +
    KL(q‖m)/2 with m the midpoint mixture. Completes the drift
    toolbox's geometry: ks1 is a sup-norm test, emd1 a transport
    distance, psi1 the unbounded policy metric — JSD is the
    SYMMETRIC, ALWAYS-FINITE, [0, ln2]-bounded divergence (its
    square root is a metric), the right default when two sources are
    compared to each other rather than to a policy threshold.

    Exactness: the mixture ratios collapse to ratios of exact
    integers — p_b/m_b = 2*ca*nb / (ca*nb + cb*na) — so each
    log argument is one IEEE division of integer-exact doubles
    (every product < 2^53), pinned by the 6dp-then-1e6 micro-nat
    double-round (the psi1/zipf1 precedent); term sums are exact
    HUGEINT/DECIMAL products and exit through sign-shifted integral
    divisions (individual p*ln(p/m) terms go negative where p < m,
    so the OFF shift keeps floor semantics engine-identical).

    Scale shape: identical to psi1 — one corpus-sized (source,
    bucket) counting groupBy plus the corpus bucket totals; the grid
    is sources x {_JSD_N_BUCKETS} literal buckets; everything
    downstream is bounded. No windows, no pairwise joins."""
    docs = (
        load(spark, sf_dir, "documents")
        .filter(F.col("source").isNotNull() & F.col("n_chars").isNotNull())
        .select(
            "source",
            F.least(
                F.floor(
                    F.col("n_chars").cast("double") / _JSD_BUCKET_W
                ).cast("long"),
                F.lit(_JSD_N_BUCKETS - 1).cast("long"),
            ).alias("b"),
        )
    )
    srcs = docs.select("source").distinct()
    buckets = srcs.crossJoin(
        F.broadcast(
            spark.range(_JSD_N_BUCKETS).select(
                F.col("id").cast("long").alias("b")
            )
        )
    )
    sb = docs.groupBy("source", "b").agg(
        F.count("*").cast("long").alias("c")
    )
    tb = docs.groupBy("b").agg(F.count("*").cast("long").alias("ct"))
    grid = (
        buckets.join(sb, ["source", "b"], "left")
        .join(F.broadcast(tb), "b", "left")
        .select(
            "source",
            "b",
            (F.coalesce(F.col("c"), F.lit(0)) + 1).alias("ca"),
            (
                F.coalesce(F.col("ct"), F.lit(0))
                - F.coalesce(F.col("c"), F.lit(0))
                + 1
            ).alias("cb"),
        )
    )
    tots = grid.groupBy("source").agg(
        F.sum("ca").cast("decimal(38,0)").alias("na"),
        F.sum("cb").cast("decimal(38,0)").alias("nb"),
    )
    cad = F.col("ca").cast("double")
    cbd = F.col("cb").cast("double")
    nad = F.col("na").cast("double")
    nbd = F.col("nb").cast("double")
    mix = cad * nbd + cbd * nad
    pin = lambda x: F.round(F.round(F.log(x), 6) * 1e6).cast(  # noqa: E731
        "decimal(38,0)"
    )
    terms = grid.join(F.broadcast(tots), "source").select(
        "source",
        (F.col("ca").cast("decimal(38,0)") * pin(2 * cad * nbd / mix))
        .alias("n1"),
        (F.col("cb").cast("decimal(38,0)") * pin(2 * cbd * nad / mix))
        .alias("n2"),
        "na",
        "nb",
    )
    kl1 = f"(sum(n1) + {_OFF} * any_value(na)) div any_value(na) - {_OFF}"
    kl2 = f"(sum(n2) + {_OFF} * any_value(nb)) div any_value(nb) - {_OFF}"
    return terms.groupBy("source").agg(
        F.expr(f"CAST({kl1} AS BIGINT)").alias("kl_pm_micro"),
        F.expr(f"CAST({kl2} AS BIGINT)").alias("kl_qm_micro"),
        F.expr(
            f"CAST(({kl1} + {kl2} + 2 * {_OFF}) div 2 - {_OFF} AS BIGINT)"
        ).alias("jsd_micro"),
    )


# --------------------------------------------------------------------------
# rle1 — run-length-encoding payoff of the time-clustered layout
# --------------------------------------------------------------------------

_RLE1_SQL = """
WITH ev AS (
  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id, event_type,
         CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d
  FROM events
  WHERE user_id IS NOT NULL AND ts IS NOT NULL AND event_type IS NOT NULL
),
lagged AS (
  SELECT event_type, d,
         lag(event_type) OVER w AS prev_t,
         lag(d) OVER w AS prev_d
  FROM ev
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
runs AS (
  SELECT
    CAST(count(*) AS BIGINT) AS n_rows,
    CAST(count(*) FILTER (prev_t IS NULL OR event_type <> prev_t)
         AS BIGINT) AS runs_event_type,
    CAST(count(*) FILTER (prev_d IS NULL OR d <> prev_d)
         AS BIGINT) AS runs_day
  FROM lagged
)
SELECT col_name, n_rows, n_runs,
       CAST((1000 * n_rows) // n_runs AS BIGINT) AS avg_run_len_milli,
       CAST((1000 * (n_rows - n_runs)) // n_rows AS BIGINT)
         AS rle_payoff_permille
FROM (
  SELECT 'event_type' AS col_name, n_rows, runs_event_type AS n_runs
  FROM runs
  UNION ALL
  SELECT 'event_day', n_rows, runs_day FROM runs
)
"""


@query("rle1_run_length_payoff", oracle=_RLE1_SQL)
def rle1_run_length_payoff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run-length-encoding payoff audit of the (user, time)-clustered
    storage layout — the question a table-layout decision (zorder1's
    sibling) actually turns on: under ORDER BY (user_id, ts), how
    many VALUE RUNS does each low-cardinality column collapse to?
    Columnar formats (Parquet RLE_DICTIONARY, Abadi et al. 2006
    "Integrating compression and execution in column-oriented
    database systems") store one tuple per run, so
    rows/runs IS the compression ratio and 1 - runs/rows the byte
    payoff — measured here for event_type and event-day, the two
    natural RLE candidates in the stream.

    Exactness: run starts are exact lag comparisons within each
    user's (ts, event_id)-ordered partition (unique tiebreak — ties
    in ts are broken by event_id identically in both engines); run
    counts are integer sums of 0/1 flags; the two emitted ratios are
    integral divisions (n_runs >= 1 whenever n_rows >= 1, so no
    NULL guard is needed beyond the empty corpus, where both
    divisions are over the sentinel row count 0 — guarded by //'s
    NULL on DuckDB and div on Spark both seeing n_rows = 0 only
    with zero output rows anyway).

    Scale shape: ONE window pass partitioned by user (bounded per
    user, no global sort), one 1-row aggregate, then a 2-row literal
    unpivot. The 100 TB cost is the per-user sort the layout itself
    would pay at write time — which is exactly what's being
    modeled."""
    ev = (
        load(spark, sf_dir, "events")
        .filter(
            F.col("user_id").isNotNull()
            & F.col("ts").isNotNull()
            & F.col("event_type").isNotNull()
        )
        .select(
            "user_id",
            "ts",
            "event_id",
            "event_type",
            F.to_date("ts").alias("d"),
        )
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    lagged = ev.select(
        "event_type",
        "d",
        F.lag("event_type").over(w).alias("prev_t"),
        F.lag("d").over(w).alias("prev_d"),
    )
    runs = lagged.agg(
        F.count("*").cast("long").alias("n_rows"),
        F.count(
            F.when(
                F.col("prev_t").isNull()
                | (F.col("event_type") != F.col("prev_t")),
                1,
            )
        ).cast("long").alias("runs_event_type"),
        F.count(
            F.when(F.col("prev_d").isNull() | (F.col("d") != F.col("prev_d")), 1)
        ).cast("long").alias("runs_day"),
    )
    unpivoted = runs.select(
        F.lit("event_type").alias("col_name"),
        "n_rows",
        F.col("runs_event_type").alias("n_runs"),
    ).unionByName(
        runs.select(
            F.lit("event_day").alias("col_name"),
            "n_rows",
            F.col("runs_day").alias("n_runs"),
        )
    )
    return unpivoted.select(
        "col_name",
        "n_rows",
        "n_runs",
        F.expr("CAST((1000 * n_rows) div n_runs AS BIGINT)").alias(
            "avg_run_len_milli"
        ),
        F.expr(
            "CAST((1000 * (n_rows - n_runs)) div n_rows AS BIGINT)"
        ).alias("rle_payoff_permille"),
    )


# --------------------------------------------------------------------------
# ap1 — average precision of the cls1 score (round 11)
# --------------------------------------------------------------------------

_AP1_SQL = """
WITH scored AS (
  SELECT doc_id,
         (lang = 'en') AS pos,
         (1000000 * CAST(len(regexp_extract_all(lower(text),
                             '\\b(the|a|of|to|and)\\b')) AS BIGINT))
           // CAST(len(regexp_extract_all(text, '\\S+')) AS BIGINT)
           AS score
  FROM documents
  WHERE lang IS NOT NULL AND text IS NOT NULL AND doc_id IS NOT NULL
    AND len(regexp_extract_all(text, '\\S+')) > 0
),
spine AS (
  SELECT score,
         CAST(count(*) AS HUGEINT) AS cnt,
         CAST(count(*) FILTER (pos) AS HUGEINT) AS cp
  FROM scored GROUP BY score
),
cum AS (
  SELECT score,
         CAST(coalesce(sum(cnt) OVER w, 0) AS HUGEINT) AS before,
         CAST(coalesce(sum(cp) OVER w, 0) AS HUGEINT) AS before_p
  FROM spine
  WINDOW w AS (ORDER BY score DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
),
ranked AS (
  SELECT s.pos,
         c.before + row_number() OVER wb AS k,
         c.before_p + CAST(count(*) FILTER (s.pos) OVER wb AS HUGEINT) AS p
  FROM scored s JOIN cum c USING (score)
  WINDOW wb AS (PARTITION BY s.score ORDER BY s.doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
),
agg AS (
  SELECT CAST(count(*) FILTER (pos) AS HUGEINT) AS n_pos,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(coalesce(sum((1000000 * p) // k) FILTER (pos), 0)
              AS HUGEINT) AS sum_prec
  FROM ranked
)
SELECT CAST(n_pos AS BIGINT) AS n_pos, n_docs,
       CAST(sum_prec AS BIGINT) AS sum_prec_micro,
       CAST(sum_prec // NULLIF(n_pos, 0) AS BIGINT) AS ap_micro
FROM agg
"""


@query("ap1_average_precision", oracle=_AP1_SQL)
def ap1_average_precision(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Average precision of the cls1/auc1 stopword score against the
    English label — the PR-curve area companion to auc1's ROC: AP =
    (1/n_pos) * sum over positive docs of precision@their-rank
    (Manning, Raghavan & Schütze 2008 §8.4). Under heavy class
    imbalance (the common case for contamination and PII detectors)
    ROC AUC saturates while AP keeps discriminating — which is why
    retrieval and rare-event evaluations report AP/MAP; this closes
    the harness's ranking column (cls1 point, auc1 ordering, ap1
    imbalance-robust ordering).

    Exactness: ranks are exact integers built WITHOUT a corpus-wide
    window — global position k = (spine cumulative rows above this
    score) + (row_number within the score bucket ordered by the
    unique doc_id), the auc1 spine trick composed with a
    score-partitioned window; precision@k quantizes through one
    non-negative integral micro division per positive doc (floor
    semantics engine-identical on non-negatives), and AP through one
    more. Tie handling is the deterministic doc_id order, identical
    in both engines by construction.

    Scale shape: one (score) counting groupBy; the spine cumulative
    is a bounded-spine window (the score is a quantized ratio — the
    auc1 bound); the per-doc window partitions BY SCORE, so it is
    distributed and never single-partition over the corpus; one
    1-row aggregate at the end."""
    txt = F.col("text")
    hits = F.size(
        F.regexp_extract_all(
            F.lower(txt), F.lit(r"\b(the|a|of|to|and)\b"), 0
        )
    ).cast("long")
    toks = F.size(F.regexp_extract_all(txt, F.lit(r"\S+"), 0)).cast("long")
    scored = (
        load(spark, sf_dir, "documents")
        .filter(
            F.col("lang").isNotNull()
            & txt.isNotNull()
            & F.col("doc_id").isNotNull()
        )
        .filter(toks > 0)
        .select(
            "doc_id",
            (F.col("lang") == "en").alias("pos"),
            F.expr(
                "CAST((1000000 * CAST(size(regexp_extract_all(lower(text),"
                " '\\\\b(the|a|of|to|and)\\\\b', 0)) AS BIGINT))"
                " div CAST(size(regexp_extract_all(text, '\\\\S+', 0))"
                " AS BIGINT) AS BIGINT)"
            ).alias("score"),
        )
    )
    spine = scored.groupBy("score").agg(
        F.count("*").cast("decimal(38,0)").alias("cnt"),
        F.count(F.when(F.col("pos"), 1)).cast("decimal(38,0)").alias("cp"),
    )
    # bounded-spine cumulative (score is a quantized ratio — the auc1
    # bound): the unpartitioned window runs over the spine, not the
    # corpus
    ws = Window.orderBy(F.col("score").desc()).rowsBetween(
        Window.unboundedPreceding, -1
    )
    cum = spine.select(
        "score",
        F.coalesce(F.sum("cnt").over(ws), F.lit(0).cast("decimal(38,0)"))
        .alias("before"),
        F.coalesce(F.sum("cp").over(ws), F.lit(0).cast("decimal(38,0)"))
        .alias("before_p"),
    )
    wb = Window.partitionBy("score").orderBy("doc_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    ranked = (
        scored.join(F.broadcast(cum), "score")
        .select(
            "pos",
            (
                F.col("before")
                + F.row_number()
                .over(Window.partitionBy("score").orderBy("doc_id"))
                .cast("decimal(38,0)")
            ).alias("k"),
            (
                F.col("before_p")
                + F.count(F.when(F.col("pos"), 1)).over(wb).cast(
                    "decimal(38,0)"
                )
            ).alias("p"),
        )
    )
    agg = ranked.agg(
        F.count(F.when(F.col("pos"), 1)).cast("decimal(38,0)").alias("n_pos"),
        F.count("*").cast("long").alias("n_docs"),
        F.coalesce(
            F.sum(
                F.when(
                    F.col("pos"),
                    F.expr("(1000000 * p) div k"),
                )
            ),
            F.lit(0).cast("decimal(38,0)"),
        ).cast("decimal(38,0)").alias("sum_prec"),
    )
    return agg.select(
        F.col("n_pos").cast("long").alias("n_pos"),
        "n_docs",
        F.col("sum_prec").cast("long").alias("sum_prec_micro"),
        F.expr("CAST(sum_prec div nullif(n_pos, 0) AS BIGINT)").alias(
            "ap_micro"
        ),
    )


# --------------------------------------------------------------------------
# cohort1 — weekly cohort retention matrix (round 11)
# --------------------------------------------------------------------------

_COHORT1_SQL = """
WITH ev AS (
  SELECT user_id, CAST(date_trunc('week', CAST(ts AS TIMESTAMP)) AS DATE)
           AS wk
  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
),
cohort AS (SELECT user_id, min(wk) AS c0 FROM ev GROUP BY user_id),
size_ AS (
  SELECT c0, CAST(count(*) AS BIGINT) AS cohort_users
  FROM cohort GROUP BY c0
),
active AS (SELECT DISTINCT user_id, wk FROM ev),
cells AS (
  SELECT c.c0 AS cohort_week,
         CAST(date_diff('day', c.c0, a.wk) // 7 AS BIGINT) AS week_offset,
         CAST(count(*) AS BIGINT) AS n_active
  FROM active a JOIN cohort c USING (user_id)
  GROUP BY c.c0, week_offset
)
SELECT CAST(ce.cohort_week AS VARCHAR) AS cohort_week,
       ce.week_offset, s.cohort_users, ce.n_active,
       CAST((1000 * ce.n_active) // s.cohort_users AS BIGINT)
         AS retention_permille
FROM cells ce JOIN size_ s ON s.c0 = ce.cohort_week
"""


@query("cohort1_retention_matrix", oracle=_COHORT1_SQL)
def cohort1_retention_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention matrix — THE product-analytics staple
    (each user joins the cohort of their first active ISO week; cell
    (cohort, offset) counts cohort members active offset weeks
    later; the diagonal-normalized triangle every growth dashboard
    renders). r3 tracks cumulative NEW users; this tracks whether
    they COME BACK — the two halves of the acquisition/retention
    readout. On a training-data pipeline the same matrix monitors
    crawl-source liveness: sources first seen in week w that still
    deliver documents k weeks on.

    Exactness: week buckets come from date_trunc('week', ts) (Monday
    start in both engines) compared as DATEs; offsets are exact
    integer day-difference divisions by 7 (non-negative — the active
    week is never before the cohort week); retention exits as one
    integral permille division of positive counts.

    Scale shape: one (user) min-aggregate, one distinct (user, week)
    projection — both map-side combinable — a user-keyed join, and a
    calendar-bounded cell aggregate; cohort sizes join back on the
    bounded cohort spine. No windows."""
    ev = (
        load(spark, sf_dir, "events")
        .filter(F.col("user_id").isNotNull() & F.col("ts").isNotNull())
        .select(
            "user_id",
            F.date_trunc("week", F.col("ts")).cast("date").alias("wk"),
        )
    )
    cohort = ev.groupBy("user_id").agg(F.min("wk").alias("c0"))
    size_ = cohort.groupBy("c0").agg(
        F.count("*").cast("long").alias("cohort_users")
    )
    active = ev.distinct()
    cells = (
        active.join(cohort, "user_id")
        .groupBy(
            F.col("c0").alias("cohort_week"),
            (F.datediff("wk", "c0") / 7).cast("long").alias("week_offset"),
        )
        .agg(F.count("*").cast("long").alias("n_active"))
    )
    return cells.join(
        F.broadcast(size_.withColumnRenamed("c0", "cohort_week")),
        "cohort_week",
    ).select(
        # ISO-format string, not DATE: pandas widens a DuckDB DATE to
        # datetime64 (trailing 00:00:00) while a Spark date stays
        # datetime.date — the canonical comparison only matches on the
        # string form
        F.col("cohort_week").cast("string").alias("cohort_week"),
        "week_offset",
        "cohort_users",
        "n_active",
        F.expr("CAST((1000 * n_active) div cohort_users AS BIGINT)").alias(
            "retention_permille"
        ),
    )


# --------------------------------------------------------------------------
# funnel1 — ordered multi-stage funnel conversion (round 11)
# --------------------------------------------------------------------------

_FUNNEL1_SQL = """
WITH ev AS (
  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_type
  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
),
s1 AS (
  SELECT user_id, min(ts) AS t1 FROM ev
  WHERE event_type = 'view' GROUP BY user_id
),
s2 AS (
  SELECT e.user_id, min(e.ts) AS t2
  FROM ev e JOIN s1 ON s1.user_id = e.user_id AND e.ts > s1.t1
  WHERE e.event_type = 'click'
  GROUP BY e.user_id
),
s3 AS (
  SELECT e.user_id, min(e.ts) AS t3
  FROM ev e JOIN s2 ON s2.user_id = e.user_id AND e.ts > s2.t2
  WHERE e.event_type = 'purchase'
  GROUP BY e.user_id
),
agg AS (
  SELECT (SELECT CAST(count(DISTINCT user_id) AS BIGINT) FROM ev) AS n_users,
         (SELECT CAST(count(*) AS BIGINT) FROM s1) AS n_view,
         (SELECT CAST(count(*) AS BIGINT) FROM s2) AS n_view_click,
         (SELECT CAST(count(*) AS BIGINT) FROM s3) AS n_full_funnel
)
SELECT n_users, n_view, n_view_click, n_full_funnel,
       CAST((1000 * n_view) // NULLIF(n_users, 0) AS BIGINT)
         AS view_permille,
       CAST((1000 * n_view_click) // NULLIF(n_view, 0) AS BIGINT)
         AS click_given_view_permille,
       CAST((1000 * n_full_funnel) // NULLIF(n_view_click, 0) AS BIGINT)
         AS purchase_given_click_permille
FROM agg
"""


@query("funnel1_ordered_conversion", oracle=_FUNNEL1_SQL)
def funnel1_ordered_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel conversion view→click→purchase — the sequenced
    product-analytics operator (each stage must occur STRICTLY AFTER
    the user's earliest completion of the previous stage, the
    standard "ordered funnel" semantics of event-analytics engines):
    markov1 measures adjacent transitions and seq1 raw trigrams;
    this measures the business question — of users who viewed, who
    went on to click, and of those, who went on to purchase, in
    order. The same shape audits any staged pipeline (crawl →
    extract → dedup-survive) keyed by entity.

    Exactness: stage times are min-aggregates over strict
    microsecond-timestamp comparisons (the loader and the ev CTE
    both truncate parquet's nanoseconds to microseconds, so the
    strict > sees identical values in both engines); counts are
    exact; conversions are integral permille divisions, NULL-guarded
    for empty stages.

    Scale shape: three user-keyed min-aggregates chained by
    user-keyed joins (each stage's table is one row per surviving
    user, shrinking monotonically); one 1-row aggregate. No windows,
    no per-user arrays — the join form never materializes a user's
    event history in one place."""
    ev = (
        load(spark, sf_dir, "events")
        .filter(F.col("user_id").isNotNull() & F.col("ts").isNotNull())
        .select("user_id", "ts", "event_type")
    )
    s1 = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    s2 = (
        ev.filter(F.col("event_type") == "click")
        .alias("e")
        .join(s1.alias("s1"), "user_id")
        .filter(F.col("e.ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    s3 = (
        ev.filter(F.col("event_type") == "purchase")
        .alias("e")
        .join(s2.alias("s2"), "user_id")
        .filter(F.col("e.ts") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    n_users = ev.select("user_id").distinct().count()
    agg = (
        s1.agg(F.count("*").cast("long").alias("n_view"))
        .crossJoin(
            F.broadcast(
                s2.agg(F.count("*").cast("long").alias("n_view_click"))
            )
        )
        .crossJoin(
            F.broadcast(
                s3.agg(F.count("*").cast("long").alias("n_full_funnel"))
            )
        )
        .withColumn("n_users", F.lit(n_users).cast("long"))
    )
    return agg.select(
        "n_users",
        "n_view",
        "n_view_click",
        "n_full_funnel",
        F.expr(
            "CAST((1000 * n_view) div nullif(n_users, 0) AS BIGINT)"
        ).alias("view_permille"),
        F.expr(
            "CAST((1000 * n_view_click) div nullif(n_view, 0) AS BIGINT)"
        ).alias("click_given_view_permille"),
        F.expr(
            "CAST((1000 * n_full_funnel) div nullif(n_view_click, 0)"
            " AS BIGINT)"
        ).alias("purchase_given_click_permille"),
    )


# --------------------------------------------------------------------------
# ccf1 — lead-lag cross-correlation of two event streams (round 11)
# --------------------------------------------------------------------------

_CCF_MAX_LAG = 3

_CCF1_SQL = f"""
WITH ev AS (
  SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d, event_type
  FROM events WHERE ts IS NOT NULL AND event_type IN ('click', 'purchase')
),
bounds AS (SELECT min(d) AS d0, max(d) AS d1 FROM ev),
spine AS (
  SELECT CAST(u.g AS DATE) AS d
  FROM bounds b, UNNEST(generate_series(CAST(b.d0 AS TIMESTAMP),
                                        CAST(b.d1 AS TIMESTAMP),
                                        INTERVAL 1 DAY)) u(g)
),
x AS (
  SELECT s.d,
         CAST(coalesce(sum(CASE WHEN e.event_type = 'click' THEN 1 END), 0)
              AS HUGEINT) AS x,
         CAST(coalesce(sum(CASE WHEN e.event_type = 'purchase' THEN 1 END), 0)
              AS HUGEINT) AS y
  FROM spine s LEFT JOIN ev e ON e.d = s.d
  GROUP BY s.d
),
lags AS (SELECT unnest(range(-{_CCF_MAX_LAG}, {_CCF_MAX_LAG + 1})) AS lag),
pairs AS (
  SELECT l.lag, a.x, b.y
  FROM lags l
  JOIN x a ON TRUE
  JOIN x b ON b.d = a.d + CAST(l.lag AS BIGINT) * INTERVAL 1 DAY
),
s AS (
  SELECT lag,
         CAST(count(*) AS HUGEINT) AS n,
         CAST(sum(x) AS HUGEINT) AS sx, CAST(sum(y) AS HUGEINT) AS sy,
         CAST(sum(x * x) AS HUGEINT) AS sx2,
         CAST(sum(y * y) AS HUGEINT) AS sy2,
         CAST(sum(x * y) AS HUGEINT) AS sxy
  FROM pairs GROUP BY lag
)
SELECT CAST(lag AS BIGINT) AS lag_days,
       CAST(n AS BIGINT) AS n_days,
       CAST(sign(n * sxy - sx * sy) AS BIGINT) AS r_sign,
       CAST((1000000 * (n * sxy - sx * sy) * (n * sxy - sx * sy))
            // NULLIF((n * sx2 - sx * sx) * (n * sy2 - sy * sy), 0)
            AS BIGINT) AS r_sq_micro
FROM s
"""


@query("ccf1_lead_lag", oracle=_CCF1_SQL)
def ccf1_lead_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lead-lag cross-correlation (the CCF of Box & Jenkins 1970)
    between the gap-filled daily click and purchase count series at
    lags -{_CCF_MAX_LAG}..{_CCF_MAX_LAG}: r(L) correlates clicks on
    day t with purchases on day t+L, so the argmax lag answers "do
    clicks LEAD purchases, and by how many days" — the causal-
    direction screen acf1 (self-correlation) can't ask. On a data
    pipeline the same operator lags crawl volume against index
    freshness to size the processing delay.

    Exactness: per lag, the Pearson pieces are exact HUGEINT /
    DECIMAL(38,0) sums over the calendar spine's integer counts;
    like mcc1, the emitted figure is the SIGNED SQUARE — r_sign =
    sign(n*Sxy - Sx*Sy) and r_sq_micro = 1e6*num^2 / (den_x*den_y) —
    because r itself needs a sqrt; both exits are integral divisions
    with non-negative denominators (Cauchy-Schwarz), NULL when a
    window has zero variance.
    DECIMAL(38,0) width bound (the pacf1/anova1 convention): with
    daily counts c <= C and n <= spine days (~60 at sf0.1), the
    numerator 1e6*(n*sxy-sx*sy)^2 <= 1e6*(2*n^2*C^2)^2, which fits
    38 digits up to C ~ 1.7e6 events/day on a 60-day spine; past
    that Spark yields NULL silently while DuckDB HUGEINT errors.
    At larger volumes rescale the daily counts (divide by a common
    10^k) before the moment sums — Pearson r is scale-invariant.

    Scale shape: one corpus-sized (day, type) counting groupBy onto
    the gap-filled spine; the lag fan-out is spine x 7 literal lags
    (calendar-bounded); the per-lag self-join matches on shifted
    dates within the bounded spine. The 100 TB cost is the first
    count — the statistics are corpus-independent."""
    ev = (
        load(spark, sf_dir, "events")
        .filter(
            F.col("ts").isNotNull()
            & F.col("event_type").isin("click", "purchase")
        )
        .select(F.to_date("ts").alias("d"), "event_type")
    )
    bounds = ev.agg(F.min("d").alias("d0"), F.max("d").alias("d1"))
    spine = bounds.select(
        F.explode(F.sequence("d0", "d1")).alias("d")
    )
    daily = ev.groupBy("d").agg(
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
        .alias("xr"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .alias("yr"),
    )
    x = (
        spine.join(daily, "d", "left")
        .select(
            "d",
            F.coalesce(F.col("xr"), F.lit(0)).cast("decimal(38,0)").alias("x"),
            F.coalesce(F.col("yr"), F.lit(0)).cast("decimal(38,0)").alias("y"),
        )
    )
    lags = spark.range(-_CCF_MAX_LAG, _CCF_MAX_LAG + 1).select(
        F.col("id").cast("int").alias("lag")
    )
    a = x.alias("a")
    b = x.alias("b")
    pairs = (
        a.crossJoin(F.broadcast(lags))
        .join(
            b,
            F.col("b.d") == F.expr("date_add(a.d, lag)"),
        )
        .select("lag", F.col("a.x").alias("x"), F.col("b.y").alias("y"))
    )
    s = pairs.groupBy("lag").agg(
        F.count("*").cast("decimal(38,0)").alias("n"),
        F.sum("x").cast("decimal(38,0)").alias("sx"),
        F.sum("y").cast("decimal(38,0)").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("decimal(38,0)").alias("sx2"),
        F.sum(F.col("y") * F.col("y")).cast("decimal(38,0)").alias("sy2"),
        F.sum(F.col("x") * F.col("y")).cast("decimal(38,0)").alias("sxy"),
    )
    return s.select(
        F.col("lag").cast("long").alias("lag_days"),
        F.col("n").cast("long").alias("n_days"),
        F.expr("CAST(sign(n * sxy - sx * sy) AS BIGINT)").alias("r_sign"),
        F.expr(
            "CAST((1000000 * (n * sxy - sx * sy) * (n * sxy - sx * sy))"
            " div nullif((n * sx2 - sx * sx) * (n * sy2 - sy * sy), 0)"
            " AS BIGINT)"
        ).alias("r_sq_micro"),
    )


# --------------------------------------------------------------------------
# mrr1 — mean reciprocal rank of the first relevant neighbor (round 11)
# --------------------------------------------------------------------------

# Probe modulus is DERIVED FROM CORPUS SIZE so the panel stays a
# CONSTANT 10-100 probes at any scale: P = 10^(digits(n) - 2), i.e.
# n/P in [10, 100). The round-11 fixed mod-100 made the panel a
# FRACTION of the corpus — probe x corpus work grew quadratically,
# measured in the r12 scaling sweep (sf0.1 -> 10x: 4.2s -> 36.9s on
# 100x pairs; SCALING.md). At sf0.1 (n=2000) P=100, bit-identical to
# the committed round-11 behavior (A/B 2026-08-16: mod 25 = 80 probes
# ran 12.3s warm; 20 probes is the audit-cadence panel at ~3s. Bulk
# scoring at production cadence belongs to the mapInPandas int64 Gram
# path — the pca1/sdd1 shape.)
#
# DENSE-ID ASSUMPTION (ADVICE r12): probes are ids divisible by P, so
# the "constant 10-100 probes" guarantee holds only for a vec_id space
# that is dense and starts near 0 (the driver corpus and the
# stride-shifted scaling corpus both are). A sparse or offset id space
# (e.g. ids all = k mod P after an upstream rekey) yields an empty or
# skewed panel — parity is unaffected (both engines share the rule),
# but a deployment re-keying vec_id must either preserve density or
# switch the panel to a rank rule (row_number() % P = 0 via the snm1
# scalable two-pass global rank — deliberately NOT paid here, where
# id-divisibility is a zero-shuffle map-side predicate).
_MRR_PMOD_SQL = (
    "CAST('1' || repeat('0', greatest(length(CAST(n AS VARCHAR)) - 2, 0))"
    " AS BIGINT)"
)
_MRR_K = 20  # neighbor pool depth per probe

_MRR1_SQL = f"""
WITH base AS (
  SELECT vec_id, label, embedding,
         (SELECT SUM(CAST(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)
                      AS DECIMAL(28,14)))
          FROM unnest(embedding) AS t(x)) AS n2
  FROM embeddings WHERE vec_id IS NOT NULL AND label IS NOT NULL
),
pmod AS (
  SELECT {_MRR_PMOD_SQL} AS p
  FROM (SELECT CAST(count(*) AS BIGINT) AS n FROM base) t
),
probes AS (
  SELECT vec_id AS q_id, label AS q_label, embedding AS qv, n2 AS qn2
  FROM base
  WHERE vec_id % (SELECT p FROM pmod) = 0 AND vec_id <> 0 AND n2 > 0
),
pairs AS (
  SELECT p.q_id, p.q_label, c.vec_id, c.label,
         unnest(c.embedding) AS x, unnest(p.qv) AS y,
         c.n2 AS cn2, p.qn2
  FROM probes p JOIN base c ON c.vec_id <> p.q_id AND c.n2 > 0
),
dots AS (
  SELECT q_id, q_label, vec_id, label,
         SUM(CAST(CAST(x AS DOUBLE) * CAST(y AS DOUBLE)
             AS DECIMAL(28,14))) AS dot,
         any_value(cn2) AS cn2, any_value(qn2) AS qn2
  FROM pairs GROUP BY q_id, q_label, vec_id, label
),
ranked AS (
  SELECT q_id, q_label, label,
         row_number() OVER (PARTITION BY q_id
           ORDER BY round(CAST(dot AS DOUBLE)
             / (sqrt(CAST(cn2 AS DOUBLE)) * sqrt(CAST(qn2 AS DOUBLE))), 6)
             DESC, vec_id) AS rn
  FROM dots
),
hits AS (
  SELECT q_id, min(rn) AS first_rel
  FROM ranked WHERE rn <= {_MRR_K} AND label = q_label
  GROUP BY q_id
),
agg AS (
  SELECT (SELECT CAST(count(*) AS HUGEINT) FROM probes) AS n_probes,
         CAST(count(*) AS BIGINT) AS n_hit,
         CAST(coalesce(sum(1000000 // first_rel), 0) AS HUGEINT) AS s
  FROM hits
)
SELECT CAST(n_probes AS BIGINT) AS n_probes, n_hit,
       CAST((1000 * n_hit) // NULLIF(n_probes, 0) AS BIGINT)
         AS hit_at_{_MRR_K}_permille,
       CAST(s // NULLIF(n_probes, 0) AS BIGINT) AS mrr_micro
FROM agg
"""


@query("mrr1_first_relevant_rank", oracle=_MRR1_SQL)
def mrr1_first_relevant_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean reciprocal rank of the first SAME-LABEL neighbor in the
    exact cosine top-k (k = _MRR_K), over the bounded probe panel
    vec_id % P = 0 with P = 10^(digits(n)-2) — a CONSTANT 10-100
    probes at any corpus size (the r12 scaling-sweep fix: a fixed
    modulus made the panel a corpus fraction and the probe x corpus
    stream quadratic; SCALING.md) — the retrieval-eval statistic
    (Voorhees 1999, the TREC QA metric) that grades an embedding
    space by where the first relevant hit LANDS, not how many arrive
    (ndcg1 grades the whole list; recall@k only membership). MRR is
    what a RAG/linking evaluation reports when one good hit is
    enough; paired with hit@k it closes the embedding-eval column of
    the harness.

    Exactness: the dot/norm fold is the shared dot_decimal form
    (order-independent DECIMAL(28,14) sums, bit-identical at any
    parallelism); cosine rounds once to 6dp with the unique vec_id
    tiebreak (the sim_cosine convention); reciprocal ranks quantize
    through 1e6 div rank (integral, non-negative) and MRR through one
    more integral division; probes with no relevant hit in the pool
    contribute 0 by construction (they never reach the hits sum).

    Scale shape: the probe set is CONSTANT-BOUNDED by construction
    (10-100 rows at any n — an eval panel, not a corpus fraction),
    so the probe x corpus score stream is O(|C|) with the probe side
    broadcast (the modulus rides a broadcast 1-row count); ranking windows
    partition BY PROBE (never corpus-wide); everything after the
    rank filter is probe-sized. The brute-force arm is the eval
    ground truth by definition — audit cadence, not a serving path
    (the serving path is sim_ivf/ivfd's partition-pruned index)."""
    emb0 = (
        load_spread(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id").isNotNull() & F.col("label").isNotNull())
        .select(
            "vec_id",
            "label",
            "embedding",
            _dot(F.col("embedding"), F.col("embedding")).alias("n2"),
        )
    )
    # constant-size probe panel: P = 10^(digits(n)-2), n/P in [10,100)
    pmod = emb0.agg(F.count("*").cast("long").alias("n")).select(
        F.expr(
            "CAST(concat('1', repeat('0',"
            " greatest(length(CAST(n AS STRING)) - 2, 0))) AS BIGINT)"
        ).alias("p")
    )
    emb = emb0.filter(F.col("n2") > 0)
    probes = (
        emb.crossJoin(F.broadcast(pmod))
        .filter(
            (F.col("vec_id") % F.col("p") == 0) & (F.col("vec_id") != 0)
        )
        .select(
            F.col("vec_id").alias("q_id"),
            F.col("label").alias("q_label"),
            F.col("embedding").alias("qv"),
            F.col("n2").alias("qn2"),
        )
    )
    scored = (
        emb.crossJoin(F.broadcast(probes))
        .filter(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            "q_label",
            "vec_id",
            "label",
            F.round(
                _dot(F.col("embedding"), F.col("qv")).cast("double")
                / (
                    F.sqrt(F.col("n2").cast("double"))
                    * F.sqrt(F.col("qn2").cast("double"))
                ),
                6,
            ).alias("cos"),
        )
    )
    wq = Window.partitionBy("q_id").orderBy(F.col("cos").desc(), "vec_id")
    ranked = scored.select(
        "q_id", "q_label", "label", F.row_number().over(wq).alias("rn")
    ).filter(F.col("rn") <= _MRR_K)
    hits = (
        ranked.filter(F.col("label") == F.col("q_label"))
        .groupBy("q_id")
        .agg(F.min("rn").alias("first_rel"))
    )
    n_probes_df = probes.agg(
        F.count("*").cast("decimal(38,0)").alias("n_probes")
    )
    agg = hits.agg(
        F.count("*").cast("long").alias("n_hit"),
        F.coalesce(
            F.sum(F.expr("1000000 div first_rel")), F.lit(0)
        ).cast("decimal(38,0)").alias("s"),
    ).crossJoin(F.broadcast(n_probes_df))
    return agg.select(
        F.col("n_probes").cast("long").alias("n_probes"),
        "n_hit",
        F.expr(
            "CAST((1000 * n_hit) div nullif(n_probes, 0) AS BIGINT)"
        ).alias(f"hit_at_{_MRR_K}_permille"),
        F.expr("CAST(s div nullif(n_probes, 0) AS BIGINT)").alias(
            "mrr_micro"
        ),
    )


# --------------------------------------------------------------------------
# hilbert1 — Hilbert-curve layout vs Morton, bucket locality audit
# --------------------------------------------------------------------------

_H_BITS = 8  # 8-bit ranks per dimension -> 16-bit curve keys, 16 buckets
_H_TOP = (1 << _H_BITS) - 1
_H_N = 1 << _H_BITS


def _h_round_exprs(s: int) -> tuple[str, str, str]:
    """One unrolled Hilbert xy2d round (the canonical loop of the
    Wikipedia/Hamilton formulation) as engine-shared SQL text over
    columns (x, y, d): quadrant index (3*rx) XOR ry spelled as a CASE
    (DuckDB's ^ is exponentiation, so no bitwise-xor operator is
    portable), rotation/flip with the FULL grid constant n-1. Returns
    (new_d, new_x, new_y) — all references are to the round's INPUT
    columns, so both engines evaluate them in one projection."""
    rx = f"(CASE WHEN (x & {s}) > 0 THEN 1 ELSE 0 END)"
    ry = f"(CASE WHEN (y & {s}) > 0 THEN 1 ELSE 0 END)"
    quad = (
        f"(CASE WHEN {rx} = 0 AND {ry} = 0 THEN 0"
        f" WHEN {rx} = 0 THEN 1"
        f" WHEN {ry} = 1 THEN 2 ELSE 3 END)"
    )
    new_d = f"d + {s * s} * {quad}"
    new_x = (
        f"(CASE WHEN {ry} = 0 THEN"
        f" (CASE WHEN {rx} = 1 THEN {_H_N - 1} - y ELSE y END)"
        f" ELSE x END)"
    )
    new_y = (
        f"(CASE WHEN {ry} = 0 THEN"
        f" (CASE WHEN {rx} = 1 THEN {_H_N - 1} - x ELSE x END)"
        f" ELSE y END)"
    )
    return new_d, new_x, new_y


def _hilbert1_oracle() -> str:
    def scaled(c: str, lo: str, hi: str) -> str:
        return (
            f"CASE WHEN ({hi} - {lo}) > 0 THEN least({_H_TOP}, "
            f"CAST(floor((CAST({c} AS DOUBLE) - {lo}) / ({hi} - {lo})"
            f" * {_H_TOP}) AS BIGINT)) ELSE 0 END"
        )

    z_terms = []
    for i in range(_H_BITS):
        z_terms.append(f"(((sa >> {i}) & 1) << {2 * i})")
        z_terms.append(f"(((sb >> {i}) & 1) << {2 * i + 1})")
    interleave = " | ".join(z_terms)

    rounds = []
    prev = "h0"
    for idx, s in enumerate(
        (1 << b for b in range(_H_BITS - 1, -1, -1)), start=1
    ):
        nd, nx, ny = _h_round_exprs(s)
        rounds.append(
            f"h{idx} AS (SELECT o_orderkey, sa, sb, {nd} AS d,"
            f" {nx} AS x, {ny} AS y FROM {prev})"
        )
        prev = f"h{idx}"
    chain = ",\n    ".join(rounds)
    return f"""
    WITH bounds AS (
      SELECT CAST(min(o_custkey) AS DOUBLE) AS amin,
             CAST(max(o_custkey) AS DOUBLE) AS amax,
             CAST(min(o_totalprice) AS DOUBLE) AS bmin,
             CAST(max(o_totalprice) AS DOUBLE) AS bmax
      FROM orders
    ),
    scl AS (
      SELECT o_orderkey,
             {scaled('o_custkey', 'amin', 'amax')} AS sa,
             {scaled('o_totalprice', 'bmin', 'bmax')} AS sb
      FROM orders, bounds
    ),
    h0 AS (SELECT o_orderkey, sa, sb, CAST(0 AS BIGINT) AS d,
                  sa AS x, sb AS y FROM scl),
    {chain},
    keyed AS (
      SELECT 'hilbert' AS curve, d >> {2 * _H_BITS - 4} AS bucket, sa, sb
      FROM {prev}
      UNION ALL
      SELECT 'morton', ({interleave}) >> {2 * _H_BITS - 4}, sa, sb
      FROM scl
    )
    SELECT curve, CAST(bucket AS BIGINT) AS bucket,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(max(sa) - min(sa) + 1 AS BIGINT) AS width_a,
           CAST(max(sb) - min(sb) + 1 AS BIGINT) AS width_b,
           CAST((max(sa) - min(sa) + 1) * (max(sb) - min(sb) + 1)
                AS BIGINT) AS box_area
    FROM keyed GROUP BY curve, bucket
    """


@query("hilbert1_hilbert_layout", oracle=_hilbert1_oracle())
def hilbert1_hilbert_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hilbert-curve clustering key vs zorder1's Morton key, graded
    by the metric a layout decision actually turns on: per curve
    BUCKET (the 16 contiguous key ranges a range-partitioned write
    produces), the bounding box of the two scaled dimensions — a
    file's min/max footer IS its bucket's bounding box, so smaller
    boxes = better stat-based skipping on both columns. The Hilbert
    curve preserves locality strictly better than Morton (no
    quadrant-boundary jumps — Moon et al. 2001, "Analysis of the
    clustering properties of the Hilbert space-filling curve", prove
    the asymptotic advantage); this query MEASURES that textbook
    claim on real keys, emitting both curves' boxes side by side
    from one shared scaling.

    Exactness: the 8-bit rank scaling replays zorder1's floor
    semantics (Spark's cast truncates non-negatives = DuckDB's
    explicit floor); the Hilbert key unrolls the canonical xy2d
    recurrence (quadrant = (3*rx) XOR ry spelled as CASE, rotation
    against the full-grid constant) through {_H_BITS} engine-shared
    integer rounds — the Spark plan and the DuckDB oracle run the
    IDENTICAL expression text per round, and
    tests/test_hilbert_curve.py pins the key against an independent
    Python reference, so the hash certifies the curve itself, not
    just self-consistency. Bucket stats are exact integer min/max.

    Scale shape: bounds are one broadcast 1-row aggregate (no
    sampling pass, no global sort); each round is a narrow
    whole-stage-codegen projection (~10 integer ops), Catalyst
    collapses the chain; the audit is one (curve, bucket) groupBy
    over 32 cells. Writing the layout would reuse zorder1's
    repartitionByRange machinery with d as the key."""
    orders = load(spark, sf_dir, "orders")
    bounds = orders.agg(
        F.min("o_custkey").cast("double").alias("amin"),
        F.max("o_custkey").cast("double").alias("amax"),
        F.min("o_totalprice").cast("double").alias("bmin"),
        F.max("o_totalprice").cast("double").alias("bmax"),
    )

    def scaled(c: str, lo: str, hi: str):
        span = F.col(hi) - F.col(lo)
        return F.when(
            span > 0,
            F.least(
                F.lit(_H_TOP).cast("long"),
                ((F.col(c).cast("double") - F.col(lo)) / span * _H_TOP).cast(
                    "long"
                ),
            ),
        ).otherwise(F.lit(0).cast("long"))

    scl = orders.join(F.broadcast(bounds)).select(
        "o_orderkey",
        scaled("o_custkey", "amin", "amax").alias("sa"),
        scaled("o_totalprice", "bmin", "bmax").alias("sb"),
    )
    h = scl.select(
        "o_orderkey",
        "sa",
        "sb",
        F.lit(0).cast("long").alias("d"),
        F.col("sa").alias("x"),
        F.col("sb").alias("y"),
    )
    for b in range(_H_BITS - 1, -1, -1):
        nd, nx, ny = _h_round_exprs(1 << b)
        # all three expressions reference the round's INPUT columns —
        # one projection per round, collapsed by Catalyst
        h = h.select(
            "o_orderkey",
            "sa",
            "sb",
            F.expr(nd).alias("d"),
            F.expr(nx).alias("x"),
            F.expr(ny).alias("y"),
        )
    from ..operators.layout import interleave_bits

    keyed = h.select(
        F.lit("hilbert").alias("curve"),
        F.shiftright("d", 2 * _H_BITS - 4).cast("long").alias("bucket"),
        "sa",
        "sb",
    ).unionByName(
        scl.select(
            F.lit("morton").alias("curve"),
            F.shiftright(
                interleave_bits(F.col("sa"), F.col("sb"), _H_BITS),
                2 * _H_BITS - 4,
            ).cast("long").alias("bucket"),
            "sa",
            "sb",
        )
    )
    return keyed.groupBy("curve", "bucket").agg(
        F.count("*").cast("long").alias("n_rows"),
        (F.max("sa") - F.min("sa") + 1).cast("long").alias("width_a"),
        (F.max("sb") - F.min("sb") + 1).cast("long").alias("width_b"),
        (
            (F.max("sa") - F.min("sa") + 1) * (F.max("sb") - F.min("sb") + 1)
        ).cast("long").alias("box_area"),
    )


# --------------------------------------------------------------------------
# boot1 — Poisson-bootstrap confidence interval, one pass (round 11)
# --------------------------------------------------------------------------

_BOOT_B = 50  # bootstrap replicas (a bounded literal spine)
# Poisson(1) inverse-CDF thresholds in micro units (floor of the
# cumulative pmf at 1e-6 resolution — frozen literals so both engines
# branch on identical integers): P(X<=k) for k = 0..7; u >= the last
# threshold draws weight 8 (P ~= 1e-5, the tail's natural cap)
_BOOT_CDF = (367879, 735758, 919698, 981011, 996340, 999405, 999916, 999989)


def _boot_weight_case(u: str) -> str:
    """Engine-shared CASE text mapping a micro-uniform integer column
    to its Poisson(1) draw via the frozen inverse-CDF thresholds."""
    whens = " ".join(
        f"WHEN {u} < {t} THEN {k}" for k, t in enumerate(_BOOT_CDF)
    )
    return f"(CASE {whens} ELSE 8 END)"


def _boot1_oracle() -> str:
    ce = CE_HASH64_SQL.format(
        h="md5('boot|'||CAST(doc_id AS VARCHAR)||'|'||CAST(b AS VARCHAR))"
    )
    w = _boot_weight_case("u")
    lo_rank = max(1, round(0.05 * _BOOT_B))
    hi_rank = min(_BOOT_B, round(0.95 * _BOOT_B))
    return f"""
    WITH d AS (
      SELECT doc_id, CAST(n_chars AS BIGINT) AS len
      FROM documents WHERE doc_id IS NOT NULL AND n_chars IS NOT NULL
    ),
    reps AS (SELECT unnest(range(0, {_BOOT_B})) AS b),
    drawn AS (
      SELECT b, len, ((({ce}) % 1000000) + 1000000) % 1000000 AS u
      FROM d, reps
    ),
    weighted AS (
      SELECT b, CAST({_boot_weight_case('u')} AS HUGEINT) AS w, len
      FROM drawn
    ),
    est AS (
      SELECT b,
             CAST((1000 * sum(w * len)) // NULLIF(sum(w), 0) AS BIGINT)
               AS mean_milli
      FROM weighted GROUP BY b
    ),
    ranked AS (
      SELECT mean_milli, row_number() OVER (ORDER BY mean_milli, b) AS r
      FROM est
    ),
    point AS (
      SELECT CAST(count(*) AS BIGINT) AS n_docs,
             CAST((1000 * sum(len)) // count(*) AS BIGINT) AS mean_milli
      FROM d
    )
    SELECT p.n_docs, CAST({_BOOT_B} AS BIGINT) AS n_replicas,
           p.mean_milli AS point_mean_milli,
           (SELECT mean_milli FROM ranked WHERE r = {lo_rank})
             AS ci_lo_milli,
           (SELECT mean_milli FROM ranked WHERE r = {hi_rank})
             AS ci_hi_milli
    FROM point p
    """


@query("boot1_poisson_bootstrap_ci", oracle=_boot1_oracle())
def boot1_poisson_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson-bootstrap 90% confidence interval for the corpus mean
    document length — the bootstrap (Efron 1979) as it is actually
    run at scale: true multinomial resampling needs the corpus size
    up front and a shared draw; the Poisson approximation gives each
    row an INDEPENDENT Poisson(1) weight per replica, so the whole
    B-replica bootstrap collapses to ONE pass of map-side-combinable
    weighted sums (Chamandy et al. 2012, "Estimating uncertainty for
    massive data streams" — Google's production formulation; also
    Hanley & MacGibbon 2006). perm1 tests a sharp null; this puts an
    honest interval on an ESTIMATE, the other half of inference.

    Determinism/exactness: the per-(doc, replica) uniform is the
    cross-engine md5 hash reduced mod 1e6 (the samp1 rule — a pure
    function of the row, reproducible in any engine, stable under
    corpus growth); the Poisson draw branches on FROZEN inverse-CDF
    integer literals (micro-floor of the cumulative pmf, tail capped
    at 8 where P ~= 1e-5); replica means are integral milli
    divisions of exact integer sums; the CI endpoints are exact
    order statistics (ranks {max(1, round(0.05 * _BOOT_B))} and
    {min(_BOOT_B, round(0.95 * _BOOT_B))} of {_BOOT_B}) over the
    replica spine with the replica id as tiebreak.

    Scale shape: the corpus is read ONCE; the replica fan-out is a
    broadcast {_BOOT_B}-row literal spine and every downstream
    relation is replica-sized; the ranking window runs over
    {_BOOT_B} rows. At 100 TB this is the only bootstrap shape that
    works — B passes or a corpus-sized shuffle per replica would be
    B times the cost."""
    d = (
        load(spark, sf_dir, "documents")
        .filter(F.col("doc_id").isNotNull() & F.col("n_chars").isNotNull())
        .select("doc_id", F.col("n_chars").cast("long").alias("len"))
    )
    reps = spark.range(_BOOT_B).select(F.col("id").cast("int").alias("b"))
    u = F.pmod(
        ce_hash64(
            F.concat(
                F.lit("boot|"),
                F.col("doc_id").cast("string"),
                F.lit("|"),
                F.col("b").cast("string"),
            )
        ),
        F.lit(1000000),
    )
    drawn = d.crossJoin(F.broadcast(reps)).select(
        "b", "len", u.alias("u")
    )
    weighted = drawn.select(
        "b",
        F.expr(_boot_weight_case("u")).cast("decimal(38,0)").alias("w"),
        "len",
    )
    est = weighted.groupBy("b").agg(
        F.expr(
            "CAST((1000 * sum(w * len)) div nullif(sum(w), 0) AS BIGINT)"
        ).alias("mean_milli")
    )
    lo_rank = max(1, round(0.05 * _BOOT_B))
    hi_rank = min(_BOOT_B, round(0.95 * _BOOT_B))
    wr = Window.orderBy("mean_milli", "b")  # bounded: B rows
    ranked = est.select(
        "mean_milli", F.row_number().over(wr).alias("r")
    ).filter(F.col("r").isin(lo_rank, hi_rank))
    point = d.agg(
        F.count("*").cast("long").alias("n_docs"),
        F.expr("CAST((1000 * sum(len)) div count(*) AS BIGINT)").alias(
            "point_mean_milli"
        ),
    )
    lo = ranked.filter(F.col("r") == lo_rank).select(
        F.col("mean_milli").alias("ci_lo_milli")
    )
    hi = ranked.filter(F.col("r") == hi_rank).select(
        F.col("mean_milli").alias("ci_hi_milli")
    )
    return (
        point.crossJoin(F.broadcast(lo))
        .crossJoin(F.broadcast(hi))
        .select(
            "n_docs",
            F.lit(_BOOT_B).cast("long").alias("n_replicas"),
            "point_mean_milli",
            "ci_lo_milli",
            "ci_hi_milli",
        )
    )


# --------------------------------------------------------------------------
# burst1 — word burstiness (variance-to-mean ratio) (round 11)
# --------------------------------------------------------------------------

_BURST_MIN_DF = 20
_BURST_TOP = 50

_BURST1_SQL = f"""
WITH dw AS (
  SELECT doc_id, w, CAST(count(*) AS HUGEINT) AS x
  FROM (SELECT doc_id, unnest(regexp_extract_all(text, '\\S+')) AS w
        FROM documents WHERE doc_id IS NOT NULL AND text IS NOT NULL)
  GROUP BY doc_id, w
),
n AS (
  SELECT CAST(count(*) AS HUGEINT) AS n
  FROM documents WHERE doc_id IS NOT NULL AND text IS NOT NULL
),
stats AS (
  SELECT w,
         CAST(count(*) AS BIGINT) AS df,
         CAST(sum(x) AS HUGEINT) AS sx,
         CAST(sum(x * x) AS HUGEINT) AS sx2
  FROM dw GROUP BY w
  HAVING count(*) >= {_BURST_MIN_DF}
)
SELECT w, df,
       CAST(sx AS BIGINT) AS total_count,
       CAST((1000 * (n.n * sx2 - sx * sx)) // (n.n * sx) AS BIGINT)
         AS vmr_milli
FROM stats, n
ORDER BY vmr_milli DESC, w
LIMIT {_BURST_TOP}
"""


@query("burst1_word_burstiness", oracle=_BURST1_SQL)
def burst1_word_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word burstiness — the variance-to-mean ratio of each word's
    per-document count over the WHOLE corpus (zeros included), top
    {_BURST_TOP} burstiest words with document frequency >=
    {_BURST_MIN_DF}. Church & Gale 1995 ("Poisson mixtures") made
    this the canonical topicality signal: a Poisson word (VMR ~ 1)
    spreads evenly — function words; a bursty word (VMR >> 1)
    concentrates its occurrences in few documents — content/topic
    words. Complements the frequency spectra (zipf1, heaps1, gt1)
    with the SECOND moment: two words of equal total frequency can
    be a stopword and a topic marker, and only VMR separates them —
    which is exactly what sw1's stopword derivation and dsir1's
    importance weights want validated.

    Exactness: with zero-docs included, VMR = ((N*Σx² - (Σx)²)/N²)
    / (Σx/N) = (N*Σx² - (Σx)²)/(N*Σx) — one integral milli division
    of exact HUGEINT/DECIMAL(38,0) count sums (numerator >= 0 since
    the zero-inclusive variance is computed around the FULL-corpus
    mean; denominator > 0 for any surviving word). The zeros never
    materialize: only Σx and Σx² over PRESENT docs are needed, N
    folds in algebraically.

    Scale shape: one explode -> (doc, word) counting groupBy -> one
    word-keyed aggregate with the df floor pushed into HAVING; the
    corpus size is a broadcast 1-row aggregate; the top-{_BURST_TOP}
    is a TakeOrdered with the word as tiebreak. No joins between
    corpus-sized relations, no windows."""
    docs = (
        load(spark, sf_dir, "documents")
        .filter(F.col("doc_id").isNotNull() & F.col("text").isNotNull())
    )
    dw = (
        docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("w"))
        .groupBy("doc_id", "w")
        .agg(F.count("*").cast("decimal(38,0)").alias("x"))
    )
    n = docs.agg(F.count("*").cast("decimal(38,0)").alias("n"))
    stats = (
        dw.groupBy("w")
        .agg(
            F.count("*").cast("long").alias("df"),
            F.sum("x").cast("decimal(38,0)").alias("sx"),
            F.sum(F.col("x") * F.col("x")).cast("decimal(38,0)").alias("sx2"),
        )
        .filter(F.col("df") >= _BURST_MIN_DF)
    )
    return (
        stats.crossJoin(F.broadcast(n))
        .select(
            "w",
            "df",
            F.col("sx").cast("long").alias("total_count"),
            F.expr(
                "CAST((1000 * (n * sx2 - sx * sx)) div (n * sx) AS BIGINT)"
            ).alias("vmr_milli"),
        )
        .orderBy(F.col("vmr_milli").desc(), "w")
        .limit(_BURST_TOP)
    )


# --------------------------------------------------------------------------
# pacf1 — lag-2 partial autocorrelation of the daily series (round 11)
# --------------------------------------------------------------------------

_PACF1_SQL = f"""
WITH ev AS (
  SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d
  FROM events WHERE ts IS NOT NULL
),
bounds AS (SELECT min(d) AS d0, max(d) AS d1 FROM ev),
spine AS (
  SELECT CAST(u.g AS DATE) AS d,
         row_number() OVER (ORDER BY CAST(u.g AS DATE)) AS t
  FROM bounds b, UNNEST(generate_series(CAST(b.d0 AS TIMESTAMP),
                                        CAST(b.d1 AS TIMESTAMP),
                                        INTERVAL 1 DAY)) u(g)
),
dense AS (
  SELECT s.t, CAST(count(e.d) AS HUGEINT) AS y
  FROM spine s LEFT JOIN ev e ON e.d = s.d
  GROUP BY s.t
),
tot AS (
  SELECT CAST(count(*) AS HUGEINT) AS n, CAST(sum(y) AS HUGEINT) AS s
  FROM dense
),
devs AS (
  SELECT a.t, (tot.n * a.y - tot.s) AS da
  FROM dense a, tot
),
nums AS (
  SELECT
    (SELECT CAST(sum(da * da) AS HUGEINT) FROM devs) AS num0,
    (SELECT CAST(sum(a.da * b.da) AS HUGEINT)
     FROM devs a JOIN devs b ON b.t = a.t + 1) AS num1,
    (SELECT CAST(sum(a.da * b.da) AS HUGEINT)
     FROM devs a JOIN devs b ON b.t = a.t + 2) AS num2,
    (SELECT CAST(count(*) AS BIGINT) FROM dense) AS n_days
)
SELECT n_days,
       CAST(sign(num1) AS BIGINT) AS r1_sign,
       CAST((1000000 * abs(num1)) // NULLIF(num0, 0) AS BIGINT)
         AS abs_r1_micro,
       CAST(sign(num2) AS BIGINT) AS r2_sign,
       CAST((1000000 * abs(num2)) // NULLIF(num0, 0) AS BIGINT)
         AS abs_r2_micro,
       CAST(sign(num2 * num0 - num1 * num1) AS BIGINT) AS pacf2_sign,
       CAST((1000000 * abs(num2 * num0 - num1 * num1))
            // NULLIF(num0 * num0 - num1 * num1, 0) AS BIGINT)
         AS abs_pacf2_micro
FROM nums
"""


@query("pacf1_partial_autocorrelation", oracle=_PACF1_SQL)
def pacf1_partial_autocorrelation(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Lag-2 partial autocorrelation of the gap-filled total daily
    event series via the Durbin-Levinson identity phi_22 =
    (r_2 - r_1^2) / (1 - r_1^2) (Durbin 1960; the Box-Jenkins
    model-order diagnostic): acf1 reports the raw correlogram, but
    an AR(1) process shows r_2 ~ r_1^2 > 0 at lag 2 even with NO
    direct lag-2 dependence — the PACF strips the propagated lag-1
    effect, so phi_22 ~ 0 certifies AR(1) sufficiency and a large
    phi_22 says the forecasting shape (ewma1/ts4) needs a second
    lag. This is the statistic a capacity-planning fit reads to
    pick its model order.

    Exactness: deviations cross-multiply by n per acf1's rule
    (n*y_t - S); the autocovariance numerators num_k and num_0 are
    exact DECIMAL(38,0) sums; r_k = num_k/num_0 and phi_22 =
    (num2*num0 - num1^2)/(num0^2 - num1^2) — the n^2 and num_0
    normalizations cancel ALGEBRAICALLY, so the emitted figures are
    single integral micro divisions with signs carried separately
    (den >= 0 because |r_1| <= 1 under the biased-ACF
    normalization; NULL for a constant series). num0^2 stays inside
    DECIMAL(38,0) through sf10 (documented bound: num0 <= n*(n*y)^2
    ~ 2.7e18 at n=30, y~1e7/day).

    Scale shape: one corpus-sized date-counting groupBy; everything
    downstream — the spine row-numbering, the two lag self-joins,
    the 1-row pieces — is calendar-bounded."""
    ev = (
        load(spark, sf_dir, "events")
        .filter(F.col("ts").isNotNull())
        .select(F.to_date("ts").alias("d"))
    )
    bounds = ev.agg(F.min("d").alias("d0"), F.max("d").alias("d1"))
    # bounded window: the spine is the calendar, not the corpus
    spine = bounds.select(
        F.explode(F.sequence("d0", "d1")).alias("d")
    ).select("d", F.row_number().over(Window.orderBy("d")).alias("t"))
    daily = ev.groupBy("d").agg(F.count("*").alias("c"))
    # pin the calendar-bounded dense series: it feeds tot + num0 +
    # both lag self-join sides (~6 consumers), each of which would
    # otherwise replay the corpus-sized date-counting groupBy
    # (guide §3.3; A/B git show 555704a:tools/ab_r14_pin.json)
    dense = pin(
        spine.join(daily, "d", "left")
        .select(
            "t",
            F.coalesce(F.col("c"), F.lit(0)).cast("decimal(38,0)").alias("y"),
        )
    )
    tot = dense.agg(
        F.count("*").cast("decimal(38,0)").alias("n"),
        F.sum("y").cast("decimal(38,0)").alias("s"),
    )
    devs = dense.crossJoin(F.broadcast(tot)).select(
        "t", (F.col("n") * F.col("y") - F.col("s")).alias("da")
    )
    a = devs.alias("a")
    b = devs.alias("b")
    num0 = devs.agg(
        F.sum(F.col("da") * F.col("da")).cast("decimal(38,0)").alias("num0"),
        F.count("*").cast("long").alias("n_days"),
    )
    num1 = (
        a.join(b, F.col("b.t") == F.col("a.t") + 1)
        .agg(
            F.sum(F.col("a.da") * F.col("b.da"))
            .cast("decimal(38,0)")
            .alias("num1")
        )
    )
    num2 = (
        a.join(b, F.col("b.t") == F.col("a.t") + 2)
        .agg(
            F.sum(F.col("a.da") * F.col("b.da"))
            .cast("decimal(38,0)")
            .alias("num2")
        )
    )
    nums = num0.crossJoin(F.broadcast(num1)).crossJoin(F.broadcast(num2))
    return nums.select(
        "n_days",
        F.expr("CAST(sign(num1) AS BIGINT)").alias("r1_sign"),
        F.expr(
            "CAST((1000000 * abs(num1)) div nullif(num0, 0) AS BIGINT)"
        ).alias("abs_r1_micro"),
        F.expr("CAST(sign(num2) AS BIGINT)").alias("r2_sign"),
        F.expr(
            "CAST((1000000 * abs(num2)) div nullif(num0, 0) AS BIGINT)"
        ).alias("abs_r2_micro"),
        F.expr("CAST(sign(num2 * num0 - num1 * num1) AS BIGINT)").alias(
            "pacf2_sign"
        ),
        F.expr(
            "CAST((1000000 * abs(num2 * num0 - num1 * num1))"
            " div nullif(num0 * num0 - num1 * num1, 0) AS BIGINT)"
        ).alias("abs_pacf2_micro"),
    )


# --------------------------------------------------------------------------
# dq11 — functional-dependency violation audit (round 11)
# --------------------------------------------------------------------------

_DQ11_SQL = """
WITH c1 AS (
  SELECT 'orders: o_orderkey -> o_custkey' AS candidate,
         CAST(count(*) AS BIGINT) AS n_lhs,
         CAST(count(*) FILTER (nv > 1) AS BIGINT) AS violating_lhs,
         CAST(sum(nv - 1) AS BIGINT) AS excess_rhs
  FROM (SELECT o_orderkey, count(DISTINCT o_custkey) AS nv
        FROM orders GROUP BY o_orderkey)
),
c2 AS (
  SELECT 'orders: o_custkey -> o_orderpriority',
         CAST(count(*) AS BIGINT),
         CAST(count(*) FILTER (nv > 1) AS BIGINT),
         CAST(sum(nv - 1) AS BIGINT)
  FROM (SELECT o_custkey, count(DISTINCT o_orderpriority) AS nv
        FROM orders GROUP BY o_custkey)
),
c3 AS (
  SELECT 'lineitem: l_orderkey -> l_returnflag',
         CAST(count(*) AS BIGINT),
         CAST(count(*) FILTER (nv > 1) AS BIGINT),
         CAST(sum(nv - 1) AS BIGINT)
  FROM (SELECT l_orderkey, count(DISTINCT l_returnflag) AS nv
        FROM lineitem GROUP BY l_orderkey)
),
c4 AS (
  SELECT 'lineitem: l_orderkey, l_linenumber -> l_quantity',
         CAST(count(*) AS BIGINT),
         CAST(count(*) FILTER (nv > 1) AS BIGINT),
         CAST(sum(nv - 1) AS BIGINT)
  FROM (SELECT l_orderkey, l_linenumber, count(DISTINCT l_quantity) AS nv
        FROM lineitem GROUP BY l_orderkey, l_linenumber)
),
u AS (
  SELECT * FROM c1 UNION ALL SELECT * FROM c2
  UNION ALL SELECT * FROM c3 UNION ALL SELECT * FROM c4
)
SELECT candidate, n_lhs, violating_lhs, excess_rhs,
       CASE WHEN violating_lhs = 0 THEN 1 ELSE 0 END AS fd_holds,
       CAST((1000000 * violating_lhs) // n_lhs AS BIGINT)
         AS violation_ppm
FROM u
"""


@query("dq11_functional_dependencies", oracle=_DQ11_SQL)
def dq11_functional_dependencies(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Functional-dependency audit over a declared candidate set —
    the data-profiling primitive of FD-discovery systems (TANE,
    Huhtala et al. 1999; Metanome): X -> Y holds iff every X group
    sees exactly one Y value, and the VIOLATION profile (how many
    groups see more, how many excess values) is what a schema
    steward reads before declaring a constraint or a merge key.
    Candidates here certify the star schema's implicit contracts:
    the two key candidates (o_orderkey -> o_custkey and the lineitem
    composite PK -> l_quantity) must HOLD, the two deliberately
    false ones (customer -> priority, order -> shipmode) measure the
    discriminating power of the audit itself. Completes the dq
    family: dq1 checks referential integrity BETWEEN tables, dq8
    uniqueness of one key — this checks value DETERMINATION.

    Exactness: per candidate one exact distinct-count aggregate per
    LHS group, then exact counts of violating groups and excess
    values; the rate is one integral ppm division.

    Scale shape: each candidate is a map-side-combinable
    (lhs, count distinct rhs) aggregate — for the PK candidates the
    groupBy key is the table's natural clustering so AQE coalesces
    cheaply; the four candidate plans union into a 4-row result. At
    100 TB each candidate costs one pass over its projection (column
    pruning keeps it to 2-3 columns)."""
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")

    def audit(df: DataFrame, label: str, lhs: list, rhs: str) -> DataFrame:
        per = df.groupBy(*lhs).agg(F.countDistinct(rhs).alias("nv"))
        return per.agg(
            F.lit(label).alias("candidate"),
            F.count("*").cast("long").alias("n_lhs"),
            F.count(F.when(F.col("nv") > 1, 1)).cast("long").alias(
                "violating_lhs"
            ),
            F.sum(F.col("nv") - 1).cast("long").alias("excess_rhs"),
        )

    u = (
        audit(o, "orders: o_orderkey -> o_custkey", ["o_orderkey"], "o_custkey")
        .unionByName(
            audit(
                o,
                "orders: o_custkey -> o_orderpriority",
                ["o_custkey"],
                "o_orderpriority",
            )
        )
        .unionByName(
            audit(
                li,
                "lineitem: l_orderkey -> l_returnflag",
                ["l_orderkey"],
                "l_returnflag",
            )
        )
        .unionByName(
            audit(
                li,
                "lineitem: l_orderkey, l_linenumber -> l_quantity",
                ["l_orderkey", "l_linenumber"],
                "l_quantity",
            )
        )
    )
    return u.select(
        "candidate",
        "n_lhs",
        "violating_lhs",
        "excess_rhs",
        F.when(F.col("violating_lhs") == 0, 1).otherwise(0).alias("fd_holds"),
        F.expr(
            "CAST((1000000 * violating_lhs) div n_lhs AS BIGINT)"
        ).alias("violation_ppm"),
    )


# --------------------------------------------------------------------------
# theil1 — Theil T inequality index of source sizes (round 11)
# --------------------------------------------------------------------------

_THEIL1_SQL = f"""
WITH src AS (
  SELECT source, CAST(coalesce(sum(n_chars), 0) AS HUGEINT) AS x
  FROM documents WHERE source IS NOT NULL AND n_chars IS NOT NULL
  GROUP BY source
  HAVING sum(n_chars) > 0
),
tot AS (
  SELECT CAST(count(*) AS HUGEINT) AS n, CAST(sum(x) AS HUGEINT) AS s
  FROM src
),
terms AS (
  SELECT x,
         x * CAST(round(round(ln(CAST(t.n AS DOUBLE) * CAST(x AS DOUBLE)
                  / CAST(t.s AS DOUBLE)), 6) * 1e6) AS HUGEINT) AS num,
         t.n, t.s
  FROM src, tot t
)
SELECT CAST(any_value(n) AS BIGINT) AS n_sources,
       CAST(any_value(s) AS BIGINT) AS total_chars,
       CAST((sum(num) + {_OFF} * any_value(s)) // any_value(s) - {_OFF}
            AS BIGINT) AS theil_t_micro
FROM terms
"""


@query("theil1_inequality_index", oracle=_THEIL1_SQL)
def theil1_inequality_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil T index (Theil 1967) of corpus-byte concentration across
    sources: T = sum_i (x_i/S) * ln(n*x_i/S), zero for a perfectly
    even mix, ln(n) for total concentration. gini2 ranks the same
    concentration ordinally (rank-weighted); Theil is the ENTROPY
    form — additively DECOMPOSABLE across groupings (between-region
    plus within-region inequality sums exactly), which is the
    property a hierarchical mixing plan (domains within sources)
    needs and Gini lacks. Together with simp1 (diversity) and gini2
    (concentration) this closes the mixture-balance toolbox.

    Exactness: x_i and S are exact integer char sums; each log
    argument n*x_i/S is one IEEE ratio of integer-exact doubles,
    pinned by the 6dp-then-1e6 micro-nat double-round; the weighted
    sum is exact (x_i * ln_micro as DECIMAL(38,0)) and exits through
    ONE sign-shifted integral division by S (terms where x_i < S/n
    are negative; the total is >= 0 by Jensen, but quantized terms
    need the OFF shift for floor parity).

    Scale shape: one (source) sum aggregate, a broadcast 1-row
    total, a source-sized term projection, one 1-row exit. The 100
    TB cost is the first sum."""
    src = (
        load(spark, sf_dir, "documents")
        .filter(F.col("source").isNotNull() & F.col("n_chars").isNotNull())
        .groupBy("source")
        .agg(F.sum("n_chars").cast("decimal(38,0)").alias("x"))
        .filter(F.col("x") > 0)
    )
    tot = src.agg(
        F.count("*").cast("decimal(38,0)").alias("n"),
        F.sum("x").cast("decimal(38,0)").alias("s"),
    )
    pin = F.round(
        F.round(
            F.log(
                F.col("n").cast("double")
                * F.col("x").cast("double")
                / F.col("s").cast("double")
            ),
            6,
        )
        * 1e6
    ).cast("decimal(38,0)")
    terms = src.crossJoin(F.broadcast(tot)).select(
        "x", (F.col("x") * pin).alias("num"), "n", "s"
    )
    return terms.agg(
        F.any_value(F.col("n")).cast("long").alias("n_sources"),
        F.any_value(F.col("s")).cast("long").alias("total_chars"),
        F.expr(
            f"CAST((sum(num) + {_OFF} * any_value(s)) div any_value(s)"
            f" - {_OFF} AS BIGINT)"
        ).alias("theil_t_micro"),
    )


# --------------------------------------------------------------------------
# mi1 — mutual information of the (lang, source) contingency (round 11)
# --------------------------------------------------------------------------

_MI1_SQL = f"""
WITH d AS (
  SELECT lang, source FROM documents
  WHERE lang IS NOT NULL AND source IS NOT NULL
),
cell AS (
  SELECT lang, source, CAST(count(*) AS HUGEINT) AS c
  FROM d GROUP BY lang, source
),
mx AS (SELECT lang, CAST(count(*) AS HUGEINT) AS cl FROM d GROUP BY lang),
my AS (SELECT source, CAST(count(*) AS HUGEINT) AS cs FROM d GROUP BY source),
tot AS (SELECT CAST(count(*) AS HUGEINT) AS n FROM d),
terms AS (
  SELECT cell.c
         * CAST(round(round(ln(CAST(tot.n AS DOUBLE) * CAST(cell.c AS DOUBLE)
                / (CAST(mx.cl AS DOUBLE) * CAST(my.cs AS DOUBLE))), 6)
                * 1e6) AS HUGEINT) AS num,
         tot.n
  FROM cell JOIN mx USING (lang) JOIN my USING (source), tot
)
SELECT CAST(any_value(n) AS BIGINT) AS n_docs,
       CAST((sum(num) + {_OFF} * any_value(n)) // any_value(n) - {_OFF}
            AS BIGINT) AS mi_micro
FROM terms
"""


@query("mi1_lang_source_mi", oracle=_MI1_SQL)
def mi1_lang_source_mi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information of the (lang, source) contingency table —
    I(X;Y) = sum_xy p_xy * ln(n*c_xy / (c_x*c_y)) in micro-nats
    (Cover & Thomas; the plug-in MI estimate): dq3's chi-square asks
    IF language depends on source; MI measures HOW MUCH, in nats —
    the number a mixing plan compares across candidate groupings
    (source vs domain vs time-bucket) because it is comparable
    across table shapes where chi-square's df-dependence is not.
    Also the corpus-level twin of ppmi1's word-context scores: same
    estimator, different margin.

    Exactness: cell and margin counts are exact integers; each log
    argument n*c_xy/(c_x*c_y) is one IEEE ratio of integer-exact
    doubles (products < 2^53 through sf10), micro-nat pinned; the
    weighted sum is an exact DECIMAL(38,0) fold exiting through one
    sign-shifted integral division by n (negative terms exist where
    a cell undershoots independence; MI >= 0 only in total).

    Scale shape: one (lang, source) counting groupBy plus the two
    margins off the same pass shape; the term table is
    langs x sources cells; margins broadcast. No windows, no
    corpus-sized joins."""
    d = (
        load(spark, sf_dir, "documents")
        .filter(F.col("lang").isNotNull() & F.col("source").isNotNull())
        .select("lang", "source")
    )
    cell = d.groupBy("lang", "source").agg(
        F.count("*").cast("decimal(38,0)").alias("c")
    )
    mx = d.groupBy("lang").agg(F.count("*").cast("decimal(38,0)").alias("cl"))
    my = d.groupBy("source").agg(
        F.count("*").cast("decimal(38,0)").alias("cs")
    )
    tot = d.agg(F.count("*").cast("decimal(38,0)").alias("n"))
    pin = F.round(
        F.round(
            F.log(
                F.col("n").cast("double")
                * F.col("c").cast("double")
                / (F.col("cl").cast("double") * F.col("cs").cast("double"))
            ),
            6,
        )
        * 1e6
    ).cast("decimal(38,0)")
    terms = (
        cell.join(F.broadcast(mx), "lang")
        .join(F.broadcast(my), "source")
        .crossJoin(F.broadcast(tot))
        .select((F.col("c") * pin).alias("num"), "n")
    )
    return terms.agg(
        F.any_value(F.col("n")).cast("long").alias("n_docs"),
        F.expr(
            f"CAST((sum(num) + {_OFF} * any_value(n)) div any_value(n)"
            f" - {_OFF} AS BIGINT)"
        ).alias("mi_micro"),
    )


# --------------------------------------------------------------------------
# anova1 — one-way ANOVA effect size (eta squared) (round 11)
# --------------------------------------------------------------------------

_ANOVA1_SQL = """
WITH x AS (
  SELECT l_returnflag AS g,
         CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS HUGEINT) AS v
  FROM lineitem WHERE l_returnflag IS NOT NULL AND l_extendedprice IS NOT NULL
),
grp AS (
  SELECT g, CAST(count(*) AS HUGEINT) AS ng, CAST(sum(v) AS HUGEINT) AS sg,
         CAST(sum(v * v) AS HUGEINT) AS sg2
  FROM x GROUP BY g
),
tot AS (
  SELECT CAST(sum(ng) AS HUGEINT) AS n, CAST(sum(sg) AS HUGEINT) AS s,
         CAST(sum(sg2) AS HUGEINT) AS s2,
         CAST(count(*) AS BIGINT) AS k
  FROM grp
),
ssb AS (
  SELECT CAST(sum((t.n * g.sg - g.ng * t.s) * (t.n * g.sg - g.ng * t.s)
                  // g.ng) AS HUGEINT) AS ssb_q
  FROM grp g, tot t
)
SELECT t.k AS n_groups,
       CAST(t.n AS BIGINT) AS n_rows,
       CAST((1000000 * b.ssb_q) // NULLIF(t.n * (t.n * t.s2 - t.s * t.s), 0)
            AS BIGINT) AS eta_sq_micro
FROM tot t, ssb b
"""


@query("anova1_variance_explained", oracle=_ANOVA1_SQL)
def anova1_variance_explained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA effect size eta^2 = SSB/SST (Fisher 1925) of
    line price across return-flag groups — how much of the price
    variance group membership EXPLAINS. The inference family had
    location tests (ab1/ab2/mw1/perm1) and trend (mk1) but no
    variance-decomposition member; eta^2 is the multi-group effect
    size a mixing/stratification decision reads (a near-zero value
    says the grouping is useless as a stratifier no matter how
    significant the t-tests look at scale — the classic
    p-value-vs-effect-size distinction).

    Exactness: prices enter as exact cents; with S_g, n_g, S, n as
    exact integer sums, SSB*n^2 = sum_g (n*S_g - n_g*S)^2 / n_g and
    SST*n = n*Sum(x^2) - S^2, so eta^2 = ssb_q / (n*(n*Sum(x^2)-S^2))
    where ssb_q applies one non-negative integral division PER GROUP
    (k = 3 terms; quantization < k*n_g units — far under the micro
    exit) and one final integral micro division — both spelled as
    the exact decimal floor (a - a%b)/b because Spark's `div`
    returns LongType and this per-group QUOTIENT (~1.5e20 at sf0.1)
    overflows it; the micro exits elsewhere in the registry are safe
    because their quotients are bounded.
    DECIMAL(38,0) bounds hold through ~sf0.3 ((n*S_g)^2 ~ 2e36 at
    sf0.1); beyond that, rescale cents to whole dollars first — the
    documented mk1-style width bound.

    Scale shape: ONE map-side-combinable (group) aggregate over the
    projected two columns, then arithmetic on k rows. The cheapest
    possible multi-group screen."""
    x = (
        load(spark, sf_dir, "lineitem")
        .filter(
            F.col("l_returnflag").isNotNull()
            & F.col("l_extendedprice").isNotNull()
        )
        .select(
            F.col("l_returnflag").alias("g"),
            (F.col("l_extendedprice").cast("decimal(18,2)") * 100)
            .cast("decimal(38,0)")
            .alias("v"),
        )
    )
    grp = x.groupBy("g").agg(
        F.count("*").cast("decimal(38,0)").alias("ng"),
        F.sum("v").cast("decimal(38,0)").alias("sg"),
        F.sum(F.col("v") * F.col("v")).cast("decimal(38,0)").alias("sg2"),
    )
    # Spark's `div` (IntegralDivide) RETURNS LongType, so it is exact
    # only while the QUOTIENT fits int64 — the registry's micro/
    # permille exits always do, but this per-group term is ~1.5e20 at
    # sf0.1 and silently wrapped (measured: (1.4e14)^2 div 2070 came
    # back negative). Exact decimal floor division instead:
    # (a - a % b) / b — the modulo is exact on decimals, the shifted
    # numerator divides exactly, and the quotient keeps its 38-digit
    # decimal width.
    def ddiv(a: str, b: str) -> str:
        return f"CAST((({a}) - (({a}) % ({b}))) / ({b}) AS DECIMAL(38,0))"

    # totals attach via an unpartitioned window over the k-row group
    # table (bounded: k = 3 groups, never the corpus) instead of a
    # separate aggregate joined back — grp then has exactly ONE
    # consumer, so lineitem scans ONCE (the join form re-executed the
    # corpus aggregate 3x; plan-gated in tests/test_analysis_plans.py)
    wall = Window.partitionBy()
    g2 = grp.select(
        "ng",
        "sg",
        "sg2",
        F.sum("ng").over(wall).cast("decimal(38,0)").alias("n"),
        F.sum("sg").over(wall).cast("decimal(38,0)").alias("s"),
        F.sum("sg2").over(wall).cast("decimal(38,0)").alias("s2"),
        F.count("*").over(wall).cast("long").alias("k"),
    )
    sq = "(n * sg - ng * s) * (n * sg - ng * s)"
    return g2.agg(
        F.any_value(F.col("k")).alias("n_groups"),
        F.any_value(F.col("n")).cast("long").alias("n_rows"),
        F.expr(
            "CAST("
            + ddiv(
                f"1000000 * sum({ddiv(sq, 'ng')})",
                "nullif(any_value(n) * (any_value(n) * any_value(s2)"
                " - any_value(s) * any_value(s)), 0)",
            )
            + " AS BIGINT)"
        ).alias("eta_sq_micro"),
    )


# --------------------------------------------------------------------------
# d13 — dedup threshold operating curve (round 11)
# --------------------------------------------------------------------------

_D13_THRESHOLDS = (5, 6, 7, 8, 9)  # Jaccard deciles 0.5 .. 0.9

_D13_SQL = f"""
WITH toks AS (
  SELECT doc_id, regexp_extract_all(text, '\\S+') AS t FROM documents
),
shingles AS (
  SELECT DISTINCT doc_id,
         concat_ws(' ', t[i], t[i+1], t[i+2]) AS shingle
  FROM toks, UNNEST(range(1, greatest(len(t) - 1, 1))) AS u(i)
),
sizes AS (SELECT doc_id, count(*) AS set_size FROM shingles GROUP BY 1),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         CAST(count(*) AS BIGINT) AS inter
  FROM shingles a JOIN shingles b USING (shingle)
  WHERE a.doc_id < b.doc_id
  GROUP BY 1, 2
),
pairs AS (
  SELECT i.doc_a, i.doc_b, i.inter,
         CAST(sa.set_size + sb.set_size - i.inter AS BIGINT) AS un
  FROM inter i
  JOIN sizes sa ON sa.doc_id = i.doc_a
  JOIN sizes sb ON sb.doc_id = i.doc_b
),
th AS (SELECT unnest(ARRAY{list(_D13_THRESHOLDS)}) AS t10),
swept AS (
  SELECT th.t10, p.doc_b
  FROM th JOIN pairs p ON 10 * p.inter >= th.t10 * p.un
)
SELECT t10,
       CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(count(DISTINCT doc_b) AS BIGINT) AS docs_flagged
FROM swept GROUP BY t10
"""


@query("d13_threshold_sweep", oracle=_D13_SQL)
def d13_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-threshold operating curve: exact 3-shingle Jaccard pair
    and flagged-doc counts at thresholds 0.5..0.9 — the table a
    near-dup rollout reads BEFORE picking d3's LSH band/threshold
    (Broder 1997's resemblance sweep): each decile threshold t maps
    to (pairs kept, docs deleted under the keep-smaller-id rule), so
    the deletion budget and the pair-review load are known up front
    rather than discovered after a full LSH run. Complements d12's
    EXACT-dup spectrum with the NEAR-dup dial.

    Exactness: the threshold test never touches the float Jaccard —
    10*inter >= t10*(|A|+|B|-inter) cross-multiplies exact shingle
    counts per decile; pair/flag counts are exact; the sweep is one
    literal 5-row spine joined on the integer inequality.

    Scale shape: the d2 shingle self-join (one shuffle on the
    shingle key) feeds ONE pair table reused across all thresholds —
    the sweep adds a 5-row broadcast and a (t10) groupBy, not 5
    passes. At corpus scale the same query runs over d2b's df-capped
    shingle stream (the documented stop-shingle prune); uncapped
    here to stay oracle-comparable, the d2 convention."""
    from ..functions.dedup import word_shingles

    docs = load_spread(spark, sf_dir, "documents")
    sh = docs.select(
        "doc_id", F.explode(word_shingles(F.col("text"), 3)).alias("shingle")
    )
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("set_size"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, "shingle")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count("*").cast("long").alias("inter"))
    )
    pairs = (
        inter.join(
            sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed(
                "set_size", "sa"
            ),
            "doc_a",
        )
        .join(
            sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed(
                "set_size", "sb"
            ),
            "doc_b",
        )
        .select(
            "doc_a",
            "doc_b",
            "inter",
            (F.col("sa") + F.col("sb") - F.col("inter"))
            .cast("long")
            .alias("un"),
        )
    )
    th = spark.createDataFrame(
        [(t,) for t in _D13_THRESHOLDS], "t10 int"
    )
    swept = pairs.crossJoin(F.broadcast(th)).filter(
        10 * F.col("inter") >= F.col("t10") * F.col("un")
    )
    return swept.groupBy("t10").agg(
        F.count("*").cast("long").alias("n_pairs"),
        F.countDistinct("doc_b").cast("long").alias("docs_flagged"),
    )


# --------------------------------------------------------------------------
# churn1 — weekly churn / retention transitions (round 11)
# --------------------------------------------------------------------------

_CHURN1_SQL = """
WITH aw AS (
  SELECT DISTINCT user_id,
         CAST(date_trunc('week', CAST(ts AS TIMESTAMP)) AS DATE) AS wk
  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
),
wk_spine AS (SELECT DISTINCT wk FROM aw),
trans AS (
  SELECT a.wk,
         CAST(count(*) AS BIGINT) AS active,
         CAST(count(b.user_id) AS BIGINT) AS retained_next
  FROM aw a
  LEFT JOIN aw b ON b.user_id = a.user_id
                AND b.wk = a.wk + INTERVAL 7 DAY
  GROUP BY a.wk
)
SELECT CAST(t.wk AS VARCHAR) AS week_start,
       t.active, t.retained_next,
       t.active - t.retained_next AS churned_next,
       CAST((1000 * (t.active - t.retained_next)) // t.active AS BIGINT)
         AS churn_permille
FROM trans t
WHERE EXISTS (SELECT 1 FROM wk_spine s WHERE s.wk = t.wk + INTERVAL 7 DAY)
"""


@query("churn1_weekly_churn", oracle=_CHURN1_SQL)
def churn1_weekly_churn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Week-over-week churn: of the users active in week w, how many
    are absent in week w+1 — THE subscription/engagement KPI, and the
    transition-rate view of cohort1's level curves (cohort1 says how
    many of an acquisition class survive to offset k; churn says the
    hazard between adjacent weeks pooled over classes — surv1's
    discrete hazard without the censoring machinery). Weeks with no
    following observed week are excluded (their churn is
    right-censored, not zero — the surv1 lesson).

    Exactness: active sets are exact distinct (user, week)
    projections; the retained count is an exact per-user left join
    hit on week+7d; churn exits as one integral permille division of
    positive counts; week labels emit as ISO strings (the cohort1
    pandas-DATE-widening rule).

    Scale shape: one distinct projection, one user-keyed self-join
    (both sides week-bounded per user), one week-sized aggregate and
    a bounded anti-filter on the week spine."""
    aw = (
        load(spark, sf_dir, "events")
        .filter(F.col("user_id").isNotNull() & F.col("ts").isNotNull())
        .select(
            "user_id",
            F.date_trunc("week", F.col("ts")).cast("date").alias("wk"),
        )
        .distinct()
    )
    b = aw.select(
        "user_id", F.date_sub("wk", 7).alias("wk"), F.lit(1).alias("hit")
    )
    trans = (
        aw.join(b, ["user_id", "wk"], "left")
        .groupBy("wk")
        .agg(
            F.count("*").cast("long").alias("active"),
            F.count("hit").cast("long").alias("retained_next"),
        )
    )
    spine = aw.select("wk").distinct().select(
        F.date_sub("wk", 7).alias("wk")
    ).distinct()
    return (
        trans.join(spine, "wk", "left_semi")
        .select(
            F.col("wk").cast("string").alias("week_start"),
            "active",
            "retained_next",
            (F.col("active") - F.col("retained_next")).alias("churned_next"),
            F.expr(
                "CAST((1000 * (active - retained_next)) div active"
                " AS BIGINT)"
            ).alias("churn_permille"),
        )
    )


# --------------------------------------------------------------------------
# card2 — self-join cardinality estimator audit (round 11)
# --------------------------------------------------------------------------

_CARD2_SQL = """
WITH keys AS (
  SELECT 'l_partkey' AS join_key, l_partkey AS k FROM lineitem
  UNION ALL SELECT 'l_suppkey', l_suppkey FROM lineitem
  UNION ALL SELECT 'l_orderkey', l_orderkey FROM lineitem
),
freq AS (
  SELECT join_key, k, CAST(count(*) AS HUGEINT) AS c
  FROM keys WHERE k IS NOT NULL GROUP BY join_key, k
),
stats AS (
  SELECT join_key,
         CAST(sum(c) AS HUGEINT) AS n,
         CAST(count(*) AS HUGEINT) AS ndv,
         CAST(sum(c * c) AS HUGEINT) AS f2
  FROM freq GROUP BY join_key
)
SELECT join_key,
       CAST(n AS BIGINT) AS n_rows,
       CAST(ndv AS BIGINT) AS ndv,
       CAST(f2 AS BIGINT) AS true_selfjoin_size,
       CAST((n * n) // ndv AS BIGINT) AS uniform_estimate,
       CAST((1000 * f2 * ndv) // (n * n) AS BIGINT) AS skew_multiplier_milli
FROM stats
"""


@query("card2_selfjoin_cardinality", oracle=_CARD2_SQL)
def card2_selfjoin_cardinality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-join cardinality estimator audit per candidate join key:
    the TRUE self-join size F2 = sum_k c(k)^2 (the second frequency
    moment, Alon-Matias-Szegedy 1996) against the uniform-frequency
    textbook estimate n^2/ndv (Selinger et al. 1979 — what every
    histogram-less optimizer assumes), with the ratio
    F2*ndv/n^2 >= 1 as the SKEW MULTIPLIER the uniform assumption
    underestimates joins by. This is the number behind j11's salting
    decision and dq6's skew profile, made first-class: a planner
    (or a human sizing a shuffle) reads the multiplier per key and
    knows which joins will blow past their estimate.

    Exactness: frequencies, F2, and ndv are exact integers off ONE
    counting groupBy per key (union-stacked into a single pass
    shape); both derived figures are integral divisions (all
    non-negative); skew multiplier >= 1000 milli by Cauchy-Schwarz.

    Scale shape: one (key-name, key) counting groupBy over the
    stacked projection — map-side combinable — then a 3-row
    aggregate. The audit costs one scan regardless of how many
    candidate keys stack."""
    li = load(spark, sf_dir, "lineitem")
    keys = (
        li.select(
            F.lit("l_partkey").alias("join_key"), F.col("l_partkey").alias("k")
        )
        .unionByName(
            li.select(
                F.lit("l_suppkey").alias("join_key"),
                F.col("l_suppkey").alias("k"),
            )
        )
        .unionByName(
            li.select(
                F.lit("l_orderkey").alias("join_key"),
                F.col("l_orderkey").alias("k"),
            )
        )
        .filter(F.col("k").isNotNull())
    )
    freq = keys.groupBy("join_key", "k").agg(
        F.count("*").cast("decimal(38,0)").alias("c")
    )
    stats = freq.groupBy("join_key").agg(
        F.sum("c").cast("decimal(38,0)").alias("n"),
        F.count("*").cast("decimal(38,0)").alias("ndv"),
        F.sum(F.col("c") * F.col("c")).cast("decimal(38,0)").alias("f2"),
    )
    return stats.select(
        "join_key",
        F.col("n").cast("long").alias("n_rows"),
        F.col("ndv").cast("long").alias("ndv"),
        F.col("f2").cast("long").alias("true_selfjoin_size"),
        F.expr("CAST((n * n) div ndv AS BIGINT)").alias("uniform_estimate"),
        F.expr(
            "CAST((1000 * f2 * ndv) div (n * n) AS BIGINT)"
        ).alias("skew_multiplier_milli"),
    )


# --------------------------------------------------------------------------
# ivf2 — IVF index cell-balance audit (round 11)
# --------------------------------------------------------------------------


def _ivf2_oracle() -> str:
    from .extended import _IVFM_ASSIGN_CTES

    return f"""
    WITH {_IVFM_ASSIGN_CTES},
    loads AS (
      SELECT c.centroid_id,
             CAST(coalesce(cnt.n, 0) AS BIGINT) AS n_vecs
      FROM cent c
      LEFT JOIN (SELECT cluster, CAST(count(*) AS BIGINT) AS n
                 FROM assigned GROUP BY cluster) cnt
        ON cnt.cluster = c.centroid_id
    ),
    tot AS (
      SELECT CAST(count(*) AS BIGINT) AS n_cells,
             CAST(sum(n_vecs) AS BIGINT) AS n_total
      FROM loads
    )
    SELECT l.centroid_id, l.n_vecs,
           CAST((1000 * l.n_vecs * t.n_cells) // NULLIF(t.n_total, 0)
                AS BIGINT) AS load_vs_fair_milli
    FROM loads l, tot t
    """


@query("ivf2_cell_balance", oracle=_ivf2_oracle())
def ivf2_cell_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF index cell-balance audit: per coarse cell, the assigned
    vector count and its load relative to the fair share (1000 =
    perfectly balanced) — the serving-latency health check of every
    IVF deployment (Jégou et al. 2011: probe cost is the SIZE of the
    probed cells, so a cell at 5x fair share makes every query that
    probes it 5x slower; empty cells waste the centroid budget and
    show up here as 0). place2 audits rendezvous placement on doc
    ownership; this audits the SAME balance question for the ANN
    index sim_ivf/sim_ivfd/rec1 actually serve from, off the
    identical md5-family build (one shared implementation:
    _md5_ivf_parts, replayed bit-for-bit by the oracle's assignment
    CTEs).

    Exactness: assignment is the bit-exact md5-family build (decimal
    dot products, 6dp-rounded argmin with centroid tiebreak);
    EMPTY cells are preserved by left-joining loads onto the
    centroid table (a balance audit that drops zeros lies); the
    load ratio is one integral milli division.

    Scale shape: the build's one assignment pass (broadcast
    centroid row, argmin fold per vector), then a cells-sized count
    and a broadcast 1-row total. The audit adds nothing
    corpus-scale beyond the index build it audits."""
    from .extended import _md5_ivf_parts

    cents, assigned, _ = _md5_ivf_parts(spark, sf_dir)
    cnt = assigned.groupBy("cluster").agg(
        F.count("*").cast("long").alias("n")
    )
    loads = (
        cents.select("centroid_id")
        .join(cnt.withColumnRenamed("cluster", "centroid_id"), "centroid_id", "left")
        .select(
            "centroid_id",
            F.coalesce(F.col("n"), F.lit(0)).cast("long").alias("n_vecs"),
        )
    )
    tot = loads.agg(
        F.count("*").cast("long").alias("n_cells"),
        F.sum("n_vecs").cast("long").alias("n_total"),
    )
    return loads.crossJoin(F.broadcast(tot)).select(
        "centroid_id",
        "n_vecs",
        F.expr(
            "CAST((1000 * n_vecs * n_cells) div nullif(n_total, 0)"
            " AS BIGINT)"
        ).alias("load_vs_fair_milli"),
    )


# --------------------------------------------------------------------------
# markov2 — stationary distribution of the event-type chain (round 11)
# --------------------------------------------------------------------------

_MARKOV2_ROUNDS = 12


def _markov2_oracle() -> str:
    rounds = []
    prev = "p0"
    for r in range(1, _MARKOV2_ROUNDS + 1):
        rounds.append(
            f"p{r} AS (SELECT t.next_type AS event_type,"
            f" CAST(sum((p.pi * t.c) // t.r) AS BIGINT) AS pi"
            f" FROM trans t JOIN {prev} p ON p.event_type = t.prev_type"
            f" GROUP BY t.next_type)"
        )
        prev = f"p{r}"
    chain = ",\n    ".join(rounds)
    return f"""
    WITH ev AS (
      SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id, event_type
      FROM events
      WHERE user_id IS NOT NULL AND ts IS NOT NULL AND event_type IS NOT NULL
    ),
    seq AS (
      SELECT event_type,
             lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev_type
      FROM ev
    ),
    trans0 AS (
      SELECT prev_type, event_type AS next_type,
             CAST(count(*) AS BIGINT) AS c
      FROM seq WHERE prev_type IS NOT NULL
      GROUP BY prev_type, next_type
    ),
    states AS (SELECT DISTINCT prev_type AS s FROM trans0),
    closed AS (
      SELECT t.* FROM trans0 t JOIN states st ON st.s = t.next_type
    ),
    trans AS (
      SELECT c.prev_type, c.next_type, c.c,
             r.r
      FROM closed c
      JOIN (SELECT prev_type, CAST(sum(c) AS BIGINT) AS r
            FROM closed GROUP BY prev_type) r USING (prev_type)
    ),
    p0 AS (
      SELECT s AS event_type,
             CAST(1000000 // (SELECT count(*) FROM states) AS BIGINT) AS pi
      FROM states
    ),
    {chain}
    SELECT event_type, pi AS stationary_micro FROM {prev}
    """


@query("markov2_stationary_distribution", oracle=_markov2_oracle())
def markov2_stationary_distribution(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Stationary distribution of markov1's event-type transition
    chain, {_MARKOV2_ROUNDS} unrolled power-iteration rounds (the
    Perron eigenvector of the row-stochastic matrix — gr1's PageRank
    restricted to the bounded behavioral chain, no teleport): where
    a user's next action settles in the long run, THE summary a
    capacity model reads off the behavior graph (markov1 gives the
    one-step dynamics, this the equilibrium). The chain is CLOSED
    onto states with outgoing transitions (a next-only state would
    leak mass like a dangling PageRank node — the same
    simplification gr1 documents).

    Exactness: the recurrence runs in integer micro units —
    pi'(j) = sum_i floor(pi_i * c_ij / r_i), one non-negative
    integral division per matrix entry per round, replayed by the
    oracle as {_MARKOV2_ROUNDS} chained CTEs (the gr1/lpa1 unrolled
    contract: the hash certifies every round). Floor quantization
    leaks < k micro units of mass per round by design — the
    deterministic analogue of float drift, identical in both
    engines.

    Scale shape: ONE corpus pass (the per-user lag window, bounded
    per user) builds the k x k matrix; all {_MARKOV2_ROUNDS} rounds
    run on k-row relations (k = event types, domain-bounded) in one
    lazy plan. The equilibrium costs nothing more than the matrix."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = (
        load(spark, sf_dir, "events")
        .filter(
            F.col("user_id").isNotNull()
            & F.col("ts").isNotNull()
            & F.col("event_type").isNotNull()
        )
        .select(
            "event_type",
            F.lag("event_type").over(w).alias("prev_type"),
        )
    )
    trans0 = pin(
        seq.filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count("*").cast("long").alias("c"))
    )
    # pin both bounded relations (k² rows, k = event types): without
    # the checkpoints the lazy 12-round chain duplicates the
    # corpus-sized window+groupBy subtree ~98 times at explain level
    # (340 Exchanges) and re-plans it per consumer — guide §3.3
    # "materialising an intermediate truncates the plan". Values
    # unchanged (same floor arithmetic); A/B 2026-08-18 in
    # git show 555704a:tools/ab_r14_pin.json.
    states = trans0.select(F.col("prev_type").alias("s")).distinct()
    closed = trans0.join(
        F.broadcast(states.withColumnRenamed("s", "next_type")), "next_type"
    )
    trans = pin(
        closed.join(
            closed.groupBy("prev_type").agg(
                F.sum("c").cast("long").alias("r")
            ),
            "prev_type",
        )
    )
    k = states.count()  # control-plane scalar: the uniform-init quantum
    if k == 0:
        # degenerate corpus (no events, or one event per user): no
        # transitions, no states — return the empty k-row frame with
        # the contract schema instead of dividing by zero below (the
        # oracle's NULL-propagating form degrades the same way)
        return states.select(
            F.col("s").alias("event_type"),
            F.lit(0).cast("long").alias("stationary_micro"),
        )
    pi = states.select(
        F.col("s").alias("event_type"),
        F.lit(1000000 // k).cast("long").alias("pi"),
    )
    for _ in range(_MARKOV2_ROUNDS):
        pi = (
            trans.join(
                pi.withColumnRenamed("event_type", "prev_type"), "prev_type"
            )
            .groupBy(F.col("next_type").alias("event_type"))
            .agg(
                F.sum(F.expr("(pi * c) div r")).cast("long").alias("pi")
            )
        )
    return pi.select("event_type", F.col("pi").alias("stationary_micro"))


# --------------------------------------------------------------------------
# ess1 — Kish effective sample size under length weighting (round 11)
# --------------------------------------------------------------------------

_ESS1_SQL = """
WITH d AS (
  SELECT source, CAST(n_chars AS HUGEINT) AS w
  FROM documents
  WHERE source IS NOT NULL AND n_chars IS NOT NULL AND n_chars > 0
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(((sum(w) * sum(w)) * 1000) // sum(w * w) AS BIGINT)
         AS ess_milli,
       CAST((1000 * sum(w) * sum(w)) // (count(*) * sum(w * w)) AS BIGINT)
         AS efficiency_permille
FROM d GROUP BY source
"""


@query("ess1_effective_sample_size", oracle=_ESS1_SQL)
def ess1_effective_sample_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kish effective sample size (Kish 1965) of each source under
    LENGTH weighting: ESS = (sum w)^2 / sum w^2 — when documents are
    weighted by size (token-budget mixing, ws1/mix1/lr1 all do),
    the statistical information is not n docs but ESS docs, and the
    efficiency ESS/n says how much the weight skew costs (a source
    whose bytes concentrate in a few giant docs can have 1000 docs
    and an ESS of 80 — its statistics are 12x noisier than its row
    count suggests). The standard survey-statistics number, applied
    here as the design-effect audit of the mixing family; burst1
    asks the same skew question of words, hill1 of the tail
    exponent.

    Exactness: weights are exact char counts; ESS and efficiency
    are single integral divisions of exact HUGEINT/DECIMAL(38,0)
    cross-products (all non-negative; ESS <= n by Cauchy-Schwarz so
    efficiency <= 1000).

    Scale shape: one (source) aggregate over two projected columns.
    Nothing else."""
    d = (
        load(spark, sf_dir, "documents")
        .filter(
            F.col("source").isNotNull()
            & F.col("n_chars").isNotNull()
            & (F.col("n_chars") > 0)
        )
        .select("source", F.col("n_chars").cast("decimal(38,0)").alias("w"))
    )
    return d.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.expr(
            "CAST(((sum(w) * sum(w)) * 1000) div sum(w * w) AS BIGINT)"
        ).alias("ess_milli"),
        F.expr(
            "CAST((1000 * sum(w) * sum(w)) div (count(*) * sum(w * w))"
            " AS BIGINT)"
        ).alias("efficiency_permille"),
    )


# --------------------------------------------------------------------------
# ret2 — Dirichlet query-likelihood retrieval (round 11)
# --------------------------------------------------------------------------

_RET2_TERMS = ("table", "join", "window")  # keep in sync with ret1
_RET2_MU = 2000  # Dirichlet prior (Zhai-Lafferty's recommended range)
_RET2_TOPK = 20

_RET2_TERMS_SQL = ", ".join(f"'{t}'" for t in _RET2_TERMS)

_RET2_SQL = f"""
WITH toks AS (
  SELECT doc_id, regexp_extract_all(text, '\\S+') AS l
  FROM documents WHERE doc_id IS NOT NULL AND text IS NOT NULL
),
dl AS (SELECT doc_id, CAST(len(l) AS BIGINT) AS dl FROM toks),
tok AS (
  SELECT doc_id, t.tok
  FROM toks, UNNEST(l) t(tok)
  WHERE t.tok IN ({_RET2_TERMS_SQL})
),
tf AS (
  SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
  FROM tok GROUP BY doc_id, tok
),
cf AS (SELECT tok, CAST(count(*) AS BIGINT) AS cf FROM tok GROUP BY tok),
c AS (SELECT CAST(sum(dl) AS BIGINT) AS c FROM dl),
q AS (SELECT unnest([{_RET2_TERMS_SQL}]) AS tok),
grid AS (
  SELECT d.doc_id, d.dl, q.tok,
         coalesce(tf.tf, 0) AS tf0, cf.cf, c.c
  FROM dl d
  CROSS JOIN q
  JOIN cf USING (tok)
  CROSS JOIN c
  LEFT JOIN tf ON tf.doc_id = d.doc_id AND tf.tok = q.tok
),
scored AS (
  SELECT doc_id,
         CAST(sum(CAST(round(round(ln(
             (CAST(c AS DOUBLE) * CAST(tf0 AS DOUBLE)
              + {_RET2_MU} * CAST(cf AS DOUBLE))
             / (CAST(c AS DOUBLE) * (CAST(dl AS DOUBLE) + {_RET2_MU}))
           ), 6) * 1e6) AS BIGINT)) AS BIGINT) AS score_micro,
         CAST(count(*) FILTER (tf0 > 0) AS BIGINT) AS n_terms_hit
  FROM grid GROUP BY doc_id
)
SELECT doc_id, n_terms_hit, score_micro
FROM scored
ORDER BY score_micro DESC, doc_id
LIMIT {_RET2_TOPK}
"""


@query("ret2_query_likelihood", oracle=_RET2_SQL)
def ret2_query_likelihood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dirichlet-smoothed query-likelihood retrieval (Ponte & Croft
    1998; Zhai & Lafferty 2001, mu = {_RET2_MU}) for ret1's query
    over the same whitespace tokens — the OTHER classic ranked
    retrieval model: score(d) = sum_q ln((tf + mu*cf_q/C) /
    (|d| + mu)). BM25 and QL disagree exactly where their length
    normalizations differ, which is why rr1's fusion and tau1/rbo1's
    agreement audits want two INDEPENDENT rankers — until now the
    second arm was cosine; this adds the probabilistic one, same
    query, same tokenizer, directly comparable.

    Exactness: the log argument collapses to a ratio of EXACT
    integers — (C*tf + mu*cf_q) / (C*(|d| + mu)) — so each term is
    one IEEE division of integer-exact doubles (products < 2^53
    through sf10) under the 6dp micro-nat pin; per-doc scores are
    exact integer sums of 3 pinned terms (all negative — ORDER BY
    score DESC ranks toward the least-negative likelihood), tiebreak
    doc_id; smoothing guarantees every term is finite for every doc.

    Scale shape: QL scores EVERY document (the background model term
    exists even at tf = 0 — inherent to the model, not a plan flaw),
    so the corpus cost is one (doc, len) projection fanned against
    the |q|-row broadcast term table with a left tf lookup; tf/cf
    aggregate the PRE-FILTERED posting stream exactly like ret1; the
    top-{_RET2_TOPK} is a TakeOrdered, never a global sort."""
    docs = (
        load(spark, sf_dir, "documents")
        .filter(F.col("doc_id").isNotNull() & F.col("text").isNotNull())
        .select("doc_id", tokens(F.col("text")).alias("l"))
    )
    dl = docs.select("doc_id", F.size("l").cast("long").alias("dl"))
    tok = docs.select(
        "doc_id", F.explode("l").alias("tok")
    ).filter(F.col("tok").isin(*_RET2_TERMS))
    tf = tok.groupBy("doc_id", "tok").agg(
        F.count("*").cast("long").alias("tf")
    )
    cf = tok.groupBy("tok").agg(F.count("*").cast("long").alias("cf"))
    c = dl.agg(F.sum("dl").cast("long").alias("c"))
    q = spark.createDataFrame([(t,) for t in _RET2_TERMS], "tok string")
    grid = (
        dl.crossJoin(F.broadcast(q))
        .join(F.broadcast(cf), "tok")
        .crossJoin(F.broadcast(c))
        .join(tf, ["doc_id", "tok"], "left")
        .select(
            "doc_id",
            "dl",
            "tok",
            F.coalesce(F.col("tf"), F.lit(0)).cast("long").alias("tf0"),
            "cf",
            "c",
        )
    )
    pin = F.round(
        F.round(
            F.log(
                (
                    F.col("c").cast("double") * F.col("tf0").cast("double")
                    + _RET2_MU * F.col("cf").cast("double")
                )
                / (
                    F.col("c").cast("double")
                    * (F.col("dl").cast("double") + _RET2_MU)
                )
            ),
            6,
        )
        * 1e6
    ).cast("long")
    scored = grid.groupBy("doc_id").agg(
        F.sum(pin).cast("long").alias("score_micro"),
        F.count(F.when(F.col("tf0") > 0, 1)).cast("long").alias(
            "n_terms_hit"
        ),
    )
    return (
        scored.select("doc_id", "n_terms_hit", "score_micro")
        .orderBy(F.col("score_micro").desc(), "doc_id")
        .limit(_RET2_TOPK)
    )


# --------------------------------------------------------------------------
# lorenz1 — corpus byte-concentration curve (round 11)
# --------------------------------------------------------------------------

_LORENZ_POINTS = 20  # ventiles

_LORENZ1_SQL = f"""
WITH d AS (
  SELECT CAST(n_chars AS BIGINT) AS len FROM documents
  WHERE doc_id IS NOT NULL AND n_chars IS NOT NULL
),
spine AS (
  SELECT len, CAST(count(*) AS BIGINT) AS cnt,
         CAST(len * count(*) AS BIGINT) AS chars
  FROM d GROUP BY len
),
cum AS (
  SELECT len, cnt, chars,
         CAST(coalesce(sum(cnt) OVER w, 0) AS BIGINT) AS docs_before,
         CAST(coalesce(sum(chars) OVER w, 0) AS BIGINT) AS chars_before
  FROM spine
  WINDOW w AS (ORDER BY len ROWS BETWEEN UNBOUNDED PRECEDING
               AND 1 PRECEDING)
),
tot AS (
  SELECT CAST(sum(cnt) AS BIGINT) AS n, CAST(sum(chars) AS BIGINT) AS s
  FROM spine
),
v AS (SELECT unnest(range(1, {_LORENZ_POINTS + 1})) AS ventile),
pts AS (
  SELECT v.ventile,
         CAST((v.ventile * t.n) // {_LORENZ_POINTS} AS BIGINT) AS k_docs,
         c.chars_before
           + ((v.ventile * t.n) // {_LORENZ_POINTS} - c.docs_before)
             * c.len AS chars_cum,
         t.s
  FROM v
  CROSS JOIN tot t
  JOIN cum c
    ON c.docs_before < (v.ventile * t.n) // {_LORENZ_POINTS}
   AND (v.ventile * t.n) // {_LORENZ_POINTS} <= c.docs_before + c.cnt
)
SELECT ventile, k_docs,
       CAST(chars_cum AS BIGINT) AS chars_cum,
       CAST((1000 * chars_cum) // s AS BIGINT) AS chars_share_permille
FROM pts
"""


@query("lorenz1_byte_concentration", oracle=_LORENZ1_SQL)
def lorenz1_byte_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus Lorenz curve at {_LORENZ_POINTS} points: the exact
    share of total bytes held by the smallest 5%, 10%, ..., 100% of
    documents (Lorenz 1905 — the curve gini2's scalar integrates).
    The curve is what capacity decisions actually read: pack1's
    sequence-packing waste, ess1's design effect, and hill1's tail
    exponent all summarize byte concentration — this is the full
    distribution they summarize, as a 20-row table a dashboard plots
    directly ("the largest 5% of docs hold 1000 - share(19) permille
    of the corpus").

    Exactness: every curve point is an EXACT order statistic — the
    k-th cumulative byte count computed on the length VALUE SPINE as
    chars_before + (k - docs_before) * len (the spine row containing
    rank k contributes exactly its partial run; no sampling, no
    interpolation, no percentile_approx); shares are integral
    permille divisions.

    Scale shape: one (length) counting groupBy; the cumulative
    window and the {_LORENZ_POINTS}-point join run on the bounded
    value spine (distinct lengths), never the corpus — the
    g3/imp1/auc1 order-statistic pattern."""
    d = (
        load(spark, sf_dir, "documents")
        .filter(F.col("doc_id").isNotNull() & F.col("n_chars").isNotNull())
        .select(F.col("n_chars").cast("long").alias("len"))
    )
    spine = d.groupBy("len").agg(
        F.count("*").cast("long").alias("cnt"),
        (F.col("len") * F.count("*")).cast("long").alias("chars"),
    )
    wb = Window.orderBy("len").rowsBetween(Window.unboundedPreceding, -1)
    cum = spine.select(
        "len",
        "cnt",
        "chars",
        F.coalesce(F.sum("cnt").over(wb), F.lit(0)).alias("docs_before"),
        F.coalesce(F.sum("chars").over(wb), F.lit(0)).alias("chars_before"),
    )
    tot = spine.agg(
        F.sum("cnt").cast("long").alias("n"),
        F.sum("chars").cast("long").alias("s"),
    )
    v = spark.range(1, _LORENZ_POINTS + 1).select(
        F.col("id").cast("long").alias("ventile")
    )
    k = F.expr(f"(ventile * n) div {_LORENZ_POINTS}")
    pts = (
        v.crossJoin(F.broadcast(tot))
        .join(
            cum,
            (F.col("docs_before") < k)
            & (k <= F.col("docs_before") + F.col("cnt")),
        )
        .select(
            "ventile",
            k.cast("long").alias("k_docs"),
            (
                F.col("chars_before")
                + (k - F.col("docs_before")) * F.col("len")
            ).cast("long").alias("chars_cum"),
            "s",
        )
    )
    return pts.select(
        "ventile",
        "k_docs",
        "chars_cum",
        F.expr("CAST((1000 * chars_cum) div s AS BIGINT)").alias(
            "chars_share_permille"
        ),
    )


# --------------------------------------------------------------------------
# wand1 — WAND / MaxScore pruning audit over the BM25 postings
# --------------------------------------------------------------------------


def _wand1_oracle() -> str:
    from .retrieval import _BM25_B, _BM25_K1, _BM25_TERMS, _BM25_TOPK

    terms_sql = ", ".join(f"'{t}'" for t in _BM25_TERMS)
    return f"""
    WITH toks AS (
      SELECT doc_id, regexp_extract_all(text, '\\S+') AS l FROM documents
    ),
    dl AS (SELECT doc_id, CAST(len(l) AS BIGINT) AS dl FROM toks),
    stats AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(dl) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl
      FROM dl
    ),
    tok AS (
      SELECT doc_id, t.tok FROM toks, UNNEST(l) t(tok)
      WHERE t.tok IN ({terms_sql})
    ),
    tf AS (
      SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
      FROM tok GROUP BY doc_id, tok
    ),
    dfreq AS (
      SELECT tok, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
      FROM tok GROUP BY tok
    ),
    scored AS (
      SELECT tf.doc_id, tf.tok,
             CAST(round(round(
               round(ln((CAST(n AS DOUBLE) - CAST(df AS DOUBLE) + 0.5)
                        / (CAST(df AS DOUBLE) + 0.5) + 1.0), 6)
               * ((CAST(tf AS DOUBLE) * {_BM25_K1 + 1.0})
                  / (CAST(tf AS DOUBLE)
                     + {_BM25_K1} * ({1.0 - _BM25_B}
                        + {_BM25_B} * (CAST(dl.dl AS DOUBLE) / avgdl)))),
               6) * 1e6) AS BIGINT) AS smicro
      FROM tf
      JOIN dl ON dl.doc_id = tf.doc_id
      JOIN dfreq ON dfreq.tok = tf.tok
      CROSS JOIN stats
    ),
    totals AS (
      SELECT doc_id, CAST(sum(smicro) AS BIGINT) AS total
      FROM scored GROUP BY doc_id
    ),
    theta AS (
      SELECT CAST(min(total) AS BIGINT) AS theta FROM (
        SELECT total FROM totals ORDER BY total DESC, doc_id
        LIMIT {_BM25_TOPK}
      )
    ),
    ub AS (SELECT tok, CAST(max(smicro) AS BIGINT) AS ub FROM scored
           GROUP BY tok),
    docub AS (
      SELECT s.doc_id, CAST(sum(u.ub) AS BIGINT) AS ub_sum
      FROM (SELECT DISTINCT doc_id, tok FROM scored) s
      JOIN ub u USING (tok)
      GROUP BY s.doc_id
    )
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM totals) AS n_scored_docs,
           (SELECT theta FROM theta) AS theta_micro,
           CAST(count(*) FILTER (d.ub_sum < (SELECT theta FROM theta))
                AS BIGINT) AS n_skippable,
           CAST((1000 * count(*) FILTER (d.ub_sum < (SELECT theta
                                                     FROM theta)))
                // NULLIF(count(*), 0) AS BIGINT) AS skippable_permille
    FROM docub d
    """


@query("wand1_maxscore_pruning", oracle=_wand1_oracle())
def wand1_maxscore_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WAND / MaxScore pruning audit of ret1's BM25 query (Turtle &
    Flood 1995; Broder et al. 2003, "Efficient query evaluation
    using a two-level retrieval process"): with per-term score upper
    bounds UB_t = max over postings and theta = the k-th best total,
    any document whose hit-terms' UB sum falls below theta can be
    SKIPPED without scoring — the fraction of scored documents that
    test skippable is exactly the work a WAND-enabled index would
    avoid on this query. This is the index-design readout behind
    every serious lexical-retrieval engine; card2 audits the join
    planner's estimate, this audits the retrieval planner's bound.

    Exactness: per-term scores ride the shared bm25_term_scores
    posting scorer (6dp-rounded — identical doubles in both engines),
    carried as exact micro integers from there on: UBs are integer
    maxes, totals integer sums, theta the exact k-th order statistic
    (TakeOrdered + min, doc_id tiebreak), the skippable test a pure
    integer comparison. With fewer than k scored docs theta is the
    minimum total, and nothing is skippable — the correct degenerate
    semantics.

    Scale shape: everything reads the PRE-FILTERED posting stream
    (ret1's shape — at 100 TB only matching postings shuffle); the
    UB table is |terms| rows broadcast; theta is a TakeOrdered over
    totals; one 1-row exit."""
    from .retrieval import _BM25_TOPK, bm25_term_scores

    scored = bm25_term_scores(spark, sf_dir).select(
        "doc_id",
        "tok",
        F.round(F.col("s") * 1e6).cast("long").alias("smicro"),
    )
    totals = scored.groupBy("doc_id").agg(
        F.sum("smicro").cast("long").alias("total")
    )
    theta = (
        totals.orderBy(F.col("total").desc(), "doc_id")
        .limit(_BM25_TOPK)
        .agg(F.min("total").cast("long").alias("theta"))
    )
    ub = scored.groupBy("tok").agg(
        F.max("smicro").cast("long").alias("ub")
    )
    docub = (
        scored.select("doc_id", "tok")
        .distinct()
        .join(F.broadcast(ub), "tok")
        .groupBy("doc_id")
        .agg(F.sum("ub").cast("long").alias("ub_sum"))
    )
    n_docs = totals.agg(
        F.count("*").cast("long").alias("n_scored_docs")
    )
    return (
        docub.crossJoin(F.broadcast(theta))
        .agg(
            F.count(F.when(F.col("ub_sum") < F.col("theta"), 1))
            .cast("long")
            .alias("n_skippable"),
            F.expr(
                "CAST((1000 * count(CASE WHEN ub_sum < theta THEN 1 END))"
                " div nullif(count(*), 0) AS BIGINT)"
            ).alias("skippable_permille"),
            F.any_value(F.col("theta")).cast("long").alias("theta_micro"),
        )
        .crossJoin(F.broadcast(n_docs))
        .select(
            "n_scored_docs", "theta_micro", "n_skippable",
            "skippable_permille",
        )
    )


# --------------------------------------------------------------------------
# prt1 — precision/recall operating table for the cls1 rule (round 11)
# --------------------------------------------------------------------------

_PRT1_THRESHOLDS = (20, 30, 40, 50, 60, 80, 100)

_PRT1_SQL = f"""
WITH scored AS (
  SELECT (lang = 'en') AS truth,
         CAST(len(regexp_extract_all(lower(text),
              '\\b(the|a|of|to|and)\\b')) AS BIGINT) AS hits,
         CAST(len(regexp_extract_all(text, '\\S+')) AS BIGINT) AS toks
  FROM documents WHERE lang IS NOT NULL AND text IS NOT NULL
),
th AS (SELECT unnest(ARRAY{list(_PRT1_THRESHOLDS)}) AS t),
cells AS (
  SELECT th.t,
         CAST(count(*) FILTER (truth AND th.t * hits > toks)
              AS BIGINT) AS tp,
         CAST(count(*) FILTER (NOT truth AND th.t * hits > toks)
              AS BIGINT) AS fp,
         CAST(count(*) FILTER (truth AND NOT (th.t * hits > toks))
              AS BIGINT) AS fn
  FROM scored, th
  GROUP BY th.t
)
SELECT t AS threshold, tp, fp, fn,
       CAST((1000 * tp) // NULLIF(tp + fp, 0) AS BIGINT)
         AS precision_permille,
       CAST((1000 * tp) // NULLIF(tp + fn, 0) AS BIGINT)
         AS recall_permille,
       CAST((2000 * tp) // NULLIF(2 * tp + fp + fn, 0) AS BIGINT)
         AS f1_permille
FROM cells
"""


@query("prt1_operating_points", oracle=_PRT1_SQL)
def prt1_operating_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Precision/recall operating table for cls1's stopword language
    rule across {len(_PRT1_THRESHOLDS)} decision thresholds — the
    table a threshold DECISION is actually made from (cls1 evaluates
    the one shipped point, auc1/ap1 integrate over all of them; this
    lays out the candidates so the rollout picks the knee). Same
    sweep discipline as cal1 (quality gates) and d13 (dedup
    thresholds): one corpus pass, every candidate policy costed.

    Exactness: the rule stays the integer cross-product t*hits > toks
    at every threshold (never a float ratio); the cells come from ONE
    FILTERed counting aggregate over the corpus x thresholds fan
    (the literal {len(_PRT1_THRESHOLDS)}-row spine); P/R/F1 are
    NULL-guarded integral permille divisions.

    Scale shape: one projection computes (truth, hits, toks) once;
    the threshold fan multiplies rows by a broadcast literal spine
    before ONE map-side-combinable (t) groupBy. No joins, no
    windows."""
    txt = F.col("text")
    scored = (
        load_spread(spark, sf_dir, "documents")
        .filter(F.col("lang").isNotNull() & txt.isNotNull())
        .select(
            (F.col("lang") == "en").alias("truth"),
            F.size(
                F.regexp_extract_all(
                    F.lower(txt), F.lit(r"\b(the|a|of|to|and)\b"), 0
                )
            ).cast("long").alias("hits"),
            F.size(F.regexp_extract_all(txt, F.lit(r"\S+"), 0))
            .cast("long")
            .alias("toks"),
        )
    )
    th = spark.createDataFrame(
        [(t,) for t in _PRT1_THRESHOLDS], "t int"
    )
    pred = F.col("t") * F.col("hits") > F.col("toks")
    cells = (
        scored.crossJoin(F.broadcast(th))
        .groupBy("t")
        .agg(
            F.count(F.when(F.col("truth") & pred, 1)).cast("long").alias("tp"),
            F.count(F.when(~F.col("truth") & pred, 1))
            .cast("long")
            .alias("fp"),
            F.count(F.when(F.col("truth") & ~pred, 1))
            .cast("long")
            .alias("fn"),
        )
    )
    return cells.select(
        F.col("t").alias("threshold"),
        "tp",
        "fp",
        "fn",
        F.expr("CAST((1000 * tp) div nullif(tp + fp, 0) AS BIGINT)").alias(
            "precision_permille"
        ),
        F.expr("CAST((1000 * tp) div nullif(tp + fn, 0) AS BIGINT)").alias(
            "recall_permille"
        ),
        F.expr(
            "CAST((2000 * tp) div nullif(2 * tp + fp + fn, 0) AS BIGINT)"
        ).alias("f1_permille"),
    )


# --------------------------------------------------------------------------
# llr1 — Dunning log-likelihood-ratio collocations (round 11)
# --------------------------------------------------------------------------

_LLR_MIN_SUPPORT = 5
_LLR_TOP = 50

_LLR1_SQL = f"""
WITH toks AS (
  SELECT regexp_extract_all(text, '\\S+') AS l
  FROM documents WHERE doc_id IS NOT NULL AND text IS NOT NULL
),
bg AS (
  SELECT l[i] AS w1, l[i + 1] AS w2
  FROM toks, UNNEST(range(1, greatest(len(l), 1))) AS u(i)
),
bc AS (
  SELECT w1, w2, CAST(count(*) AS BIGINT) AS k11
  FROM bg GROUP BY w1, w2
),
m1 AS (SELECT w1, CAST(sum(k11) AS BIGINT) AS c1 FROM bc GROUP BY w1),
m2 AS (SELECT w2, CAST(sum(k11) AS BIGINT) AS c2 FROM bc GROUP BY w2),
nn AS (SELECT CAST(sum(k11) AS BIGINT) AS n FROM bc),
cells AS (
  SELECT bc.w1, bc.w2, bc.k11,
         m1.c1 - bc.k11 AS k12,
         m2.c2 - bc.k11 AS k21,
         nn.n - m1.c1 - m2.c2 + bc.k11 AS k22,
         m1.c1, m2.c2, nn.n
  FROM bc JOIN m1 USING (w1) JOIN m2 USING (w2), nn
  WHERE bc.k11 >= {_LLR_MIN_SUPPORT}
),
terms AS (
  SELECT w1, w2, k11, n,
         CASE WHEN k11 = 0 THEN 0 ELSE k11 *
           CAST(round(round(ln(CAST(k11 AS DOUBLE) * CAST(n AS DOUBLE)
             / (CAST(c1 AS DOUBLE) * CAST(c2 AS DOUBLE))), 6) * 1e6)
             AS BIGINT) END
         + CASE WHEN k12 = 0 THEN 0 ELSE k12 *
           CAST(round(round(ln(CAST(k12 AS DOUBLE) * CAST(n AS DOUBLE)
             / (CAST(c1 AS DOUBLE) * CAST(n - c2 AS DOUBLE))), 6) * 1e6)
             AS BIGINT) END
         + CASE WHEN k21 = 0 THEN 0 ELSE k21 *
           CAST(round(round(ln(CAST(k21 AS DOUBLE) * CAST(n AS DOUBLE)
             / (CAST(n - c1 AS DOUBLE) * CAST(c2 AS DOUBLE))), 6) * 1e6)
             AS BIGINT) END
         + CASE WHEN k22 = 0 THEN 0 ELSE k22 *
           CAST(round(round(ln(CAST(k22 AS DOUBLE) * CAST(n AS DOUBLE)
             / (CAST(n - c1 AS DOUBLE) * CAST(n - c2 AS DOUBLE))), 6)
             * 1e6) AS BIGINT) END AS s
  FROM cells
)
SELECT w1, w2, k11 AS n_cooccur,
       CAST(2 * s AS BIGINT) AS llr_micro
FROM terms
ORDER BY llr_micro DESC, w1, w2
LIMIT {_LLR_TOP}
"""


@query("llr1_collocation_significance", oracle=_LLR1_SQL)
def llr1_collocation_significance(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Dunning log-likelihood-ratio collocations (Dunning 1993,
    "Accurate methods for the statistics of surprise and
    coincidence"): G^2 = 2*sum O*ln(O/E) over each bigram's 2x2
    contingency against the bigram-table margins — THE collocation
    significance test, because unlike pmi1's lift it does not blow
    up on rare pairs (PMI ranks a 2-occurrence oddity above a
    1000-occurrence idiom; G^2 weights evidence by volume, which is
    what a phrase-vocabulary builder actually wants ranked).
    Completes the collocation pair: pmi1 = effect size, llr1 =
    evidence.

    Exactness: all four O/E ratios collapse to products of exact
    integers — O*N/(row*col) — so each term is one IEEE division of
    integer-exact doubles (< 2^53 through sf10) under the micro-nat
    pin, weighted by the exact integer O; G^2 is then a pure integer
    SUM (no final division at all); O = 0 terms vanish by the
    0*ln(0) = 0 convention, spelled as explicit CASE in both
    engines. Support floor {_LLR_MIN_SUPPORT} applied BEFORE the
    bounded term arithmetic.

    Scale shape: pmi1's bigram explode + one (w1,w2) counting
    groupBy; margins are vocabulary-sized aggregates OF that table
    (no second corpus pass), N a broadcast 1-row total; the 2x2
    arithmetic is per-bigram-type, and the top-{_LLR_TOP} a
    TakeOrdered with the full bigram tiebreak."""
    docs = (
        load(spark, sf_dir, "documents")
        .filter(F.col("doc_id").isNotNull() & F.col("text").isNotNull())
        .select("doc_id", "text")
    )
    toks = tokens(F.col("text"))
    n = F.size(toks)
    bigrams = docs.select(
        F.explode(
            F.when(
                n >= 2,
                F.zip_with(
                    F.slice(toks, 1, n - 1),
                    F.slice(toks, 2, n - 1),
                    lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
                ),
            ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
        ).alias("bg")
    ).select("bg.w1", "bg.w2")
    bc = bigrams.groupBy("w1", "w2").agg(
        F.count("*").cast("long").alias("k11")
    )
    m1 = bc.groupBy("w1").agg(F.sum("k11").cast("long").alias("c1"))
    m2 = bc.groupBy("w2").agg(F.sum("k11").cast("long").alias("c2"))
    nn = bc.agg(F.sum("k11").cast("long").alias("n"))
    cells = (
        bc.filter(F.col("k11") >= _LLR_MIN_SUPPORT)
        .join(F.broadcast(m1), "w1")
        .join(F.broadcast(m2), "w2")
        .crossJoin(F.broadcast(nn))
        .select(
            "w1",
            "w2",
            "k11",
            (F.col("c1") - F.col("k11")).alias("k12"),
            (F.col("c2") - F.col("k11")).alias("k21"),
            (F.col("n") - F.col("c1") - F.col("c2") + F.col("k11")).alias(
                "k22"
            ),
            "c1",
            "c2",
            "n",
        )
    )

    def term(o: str, row: str, col: str) -> str:
        return (
            f"CASE WHEN {o} = 0 THEN 0 ELSE {o} *"
            f" CAST(round(round(ln(CAST({o} AS DOUBLE) * CAST(n AS DOUBLE)"
            f" / (CAST({row} AS DOUBLE) * CAST({col} AS DOUBLE))), 6)"
            f" * 1e6) AS BIGINT) END"
        )

    s = " + ".join(
        [
            term("k11", "c1", "c2"),
            term("k12", "c1", "n - c2"),
            term("k21", "n - c1", "c2"),
            term("k22", "n - c1", "n - c2"),
        ]
    )
    return (
        cells.select(
            "w1",
            "w2",
            F.col("k11").alias("n_cooccur"),
            F.expr(f"CAST(2 * ({s}) AS BIGINT)").alias("llr_micro"),
        )
        .orderBy(F.col("llr_micro").desc(), "w1", "w2")
        .limit(_LLR_TOP)
    )


# ==========================================================================
# ROUND 12 — eval-harness extension: regression scoring + inter-rater
# generalization (verdict r11 task 6)
# ==========================================================================

# --------------------------------------------------------------------------
# shared forecast frame: ewma1's SES recursion scored per day
# --------------------------------------------------------------------------

from .curation import _EWMA_MAX_I, _EWMA_POWS, _EWMA_VALUES_SQL  # noqa: E402

#: DuckDB CTE chain producing one-step-ahead SES forecasts for every
#: spine day t >= 1: fc(event_type, t, y_t, f) where f is the exact
#: micro-unit forecast of day t from days < t (alpha = 3/10, the ewma1
#: closed geometric form, same frozen power table, same depth-34 drop).
_SES_FC_CTES = f"""daily AS (
  SELECT event_type, CAST(ts AS DATE) AS d, CAST(count(*) AS BIGINT) AS y
  FROM events WHERE ts IS NOT NULL AND event_type IS NOT NULL
  GROUP BY 1, 2
),
bounds AS (
  SELECT event_type, min(d) AS d0, max(d) AS d1 FROM daily GROUP BY 1
),
spine AS (
  SELECT b.event_type, CAST(u.g AS DATE) AS d,
         CAST(date_diff('day', b.d0, CAST(u.g AS DATE)) AS BIGINT) AS r
  FROM bounds b, UNNEST(generate_series(CAST(b.d0 AS TIMESTAMP),
                                        CAST(b.d1 AS TIMESTAMP),
                                        INTERVAL 1 DAY)) u(g)
),
dense AS (
  SELECT s.event_type, s.r, COALESCE(dy.y, 0) AS y
  FROM spine s LEFT JOIN daily dy USING (event_type, d)
),
pows(i, p7, p10) AS (VALUES
  {_EWMA_VALUES_SQL}
),
terms AS (
  SELECT tg.event_type, tg.r AS t, tg.y AS y_t,
         CASE WHEN p.i = tg.r - 1
              THEN (1000000 * p.p7 * src.y) // p.p10
              ELSE (1000000 * 3 * p.p7 * src.y) // (p.p10 * 10)
         END AS t_micro
  FROM dense tg
  JOIN pows p ON p.i <= tg.r - 1
  JOIN dense src ON src.event_type = tg.event_type
                AND src.r = tg.r - 1 - p.i
  WHERE tg.r >= 1
),
fc AS (
  SELECT event_type, t, max(y_t) AS y_t,
         CAST(sum(t_micro) AS HUGEINT) AS f
  FROM terms GROUP BY 1, 2
)"""


def _ses_forecast_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(event_type, t, y_t, f_micro): the exact one-step-ahead SES
    forecast of every spine day t >= 1, Spark twin of _SES_FC_CTES.

    Same machinery as ewma1 (``plans/curation.py``): the dense
    calendar spine with gap days as real zeros, the frozen 35-row
    integer power table (alpha = 3/10, weights 3*7^i/10^(i+1) with
    the 7^(t-1)/10^(t-1) boundary), every term one non-negative
    integral micro division. Days deeper than i={max_i} under a
    target are DROPPED by the power-table join (weight < the micro
    quantum — the ewma1-documented mechanism); the current 30-day
    corpus calendar never reaches the drop."""
    ev = load(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull() & F.col("event_type").isNotNull()
    )
    daily = ev.groupBy("event_type", F.to_date("ts").alias("d")).agg(
        F.count("*").cast("long").alias("y")
    )
    bounds = daily.groupBy("event_type").agg(
        F.min("d").alias("d0"), F.max("d").alias("d1")
    )
    spine = bounds.select(
        "event_type",
        F.explode(F.sequence("d0", "d1")).alias("d"),
        "d0",
    ).select("event_type", "d", F.datediff("d", "d0").cast("long").alias("r"))
    dense = spine.join(daily, ["event_type", "d"], "left").select(
        "event_type", "r", F.coalesce(F.col("y"), F.lit(0)).alias("y")
    )
    pows = spark.createDataFrame(
        [(i, str(p7), str(p10)) for i, p7, p10 in _EWMA_POWS],
        "i INT, p7 STRING, p10 STRING",
    ).select(
        F.col("i").cast("long").alias("i"),
        F.col("p7").cast("decimal(38,0)").alias("p7"),
        F.col("p10").cast("decimal(38,0)").alias("p10"),
    )
    targets = dense.filter(F.col("r") >= 1).select(
        "event_type", F.col("r").alias("t"), F.col("y").alias("y_t")
    )
    sources = dense.select(
        F.col("event_type").alias("s_event_type"),
        F.col("r").alias("j"),
        F.col("y").alias("ys"),
    )
    terms = (
        targets.crossJoin(F.broadcast(pows))
        .filter(F.col("i") <= F.col("t") - 1)
        .join(
            sources,
            (F.col("s_event_type") == F.col("event_type"))
            & (F.col("j") == F.col("t") - 1 - F.col("i")),
        )
        .select(
            "event_type",
            "t",
            "y_t",
            F.expr(
                "CASE WHEN i = t - 1"
                " THEN (1000000 * p7 * ys) div p10"
                " ELSE (1000000 * 3 * p7 * ys) div (p10 * 10) END"
            ).alias("t_micro"),
        )
    )
    return terms.groupBy("event_type", "t").agg(
        F.max("y_t").alias("y_t"),
        F.sum(F.col("t_micro").cast("decimal(38,0)")).alias("f_micro"),
    )


_ses_forecast_frame.__doc__ = _ses_forecast_frame.__doc__.format(
    max_i=_EWMA_MAX_I
)


# --------------------------------------------------------------------------
# reg1 — regression scoring of the SES forecast (round 12)
# --------------------------------------------------------------------------

_REG1_SQL = f"""
WITH {_SES_FC_CTES},
err AS (
  SELECT event_type, y_t, f - 1000000 * y_t AS e FROM fc
),
s AS (
  SELECT event_type,
         CAST(count(*) AS HUGEINT) AS n,
         CAST(sum(abs(e)) AS HUGEINT) AS sae,
         CAST(sum(e * e) AS HUGEINT) AS sse,
         CAST(sum(y_t) AS HUGEINT) AS sy,
         CAST(sum(y_t * y_t) AS HUGEINT) AS sy2
  FROM err GROUP BY 1
)
SELECT event_type,
       CAST(n AS BIGINT) AS n_scored,
       CAST(sae // n AS BIGINT) AS mae_micro,
       CAST(sse // (n * 1000000000000) AS BIGINT) AS mse_units,
       CAST((1000000 * (1000000000000 * (n * sy2 - sy * sy) - n * sse)
             + {_OFF} * NULLIF(1000000000000 * (n * sy2 - sy * sy), 0))
            // NULLIF(1000000000000 * (n * sy2 - sy * sy), 0)
            - {_OFF} AS BIGINT) AS r2_micro
FROM s
"""


@query("reg1_forecast_accuracy", oracle=_REG1_SQL)
def reg1_forecast_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regression scorecard of ewma1's SES forecast against the
    actuals it predicts — the accuracy number the smoothing family
    was missing (verdict r11 task 6): ewma1 emits tomorrow's level,
    ts4's MASE scores a naive baseline, but nothing scored the SES
    forecast itself. Per event type, every spine day t >= 1 is
    forecast from days < t (walk-forward, no leakage — the forecast
    at t uses exactly the closed geometric form over the prefix) and
    scored: MAE (robust location of error), MSE (the RMSE square —
    no-sqrt convention), and R^2 = 1 - SSE/SST against the
    mean-of-actuals baseline (negative R^2 = worse than predicting
    the mean, the standard go/no-go for shipping the forecast).

    Exactness: forecasts are the exact integer micro units of the
    ewma1 power-table form; errors e = f_micro - 1e6*y are exact
    integers; MAE exits as one integral division, MSE in whole
    count^2 units (sse // (n*1e12)), and R^2 as the OFF-shifted
    integral micro division of exact DECIMAL(38,0) products, NULL
    when the actuals have zero variance (constant series — SST = 0).
    DECIMAL(38,0) width bound (pacf1/anova1 convention): sse <=
    n*(1e6*y_max)^2 and the R^2 numerator carries 1e6*n*sse, so 38
    digits hold through y_max ~ 5e6 events/day on a 30-day spine;
    rescale daily counts past that. The OFF shift is valid while
    R^2 >= -1e6 (|num| <= OFF*den) — any remotely sane series.

    Scale shape: ONE corpus-sized (type, date) counting groupBy (the
    dense spine reuses the same aggregate on both join sides —
    exchange-reusable); the forecast fan-out is spine x <=35 literal
    power rows (calendar-bounded); everything after is k-row. The
    100 TB cost is the daily count, as in ewma1."""
    fc = _ses_forecast_frame(spark, sf_dir)
    dec = "decimal(38,0)"
    err = fc.select(
        "event_type",
        "y_t",
        (F.col("f_micro") - F.lit(1000000).cast(dec) * F.col("y_t"))
        .cast(dec)
        .alias("e"),
    )
    s = err.groupBy("event_type").agg(
        F.count("*").cast(dec).alias("n"),
        F.sum(F.abs(F.col("e"))).cast(dec).alias("sae"),
        F.sum(F.col("e") * F.col("e")).cast(dec).alias("sse"),
        F.sum(F.col("y_t").cast(dec)).cast(dec).alias("sy"),
        F.sum((F.col("y_t") * F.col("y_t")).cast(dec)).cast(dec).alias("sy2"),
    )
    sst = "(1000000000000 * (n * sy2 - sy * sy))"
    return s.select(
        "event_type",
        F.col("n").cast("long").alias("n_scored"),
        F.expr("CAST(sae div n AS BIGINT)").alias("mae_micro"),
        F.expr("CAST(sse div (n * 1000000000000) AS BIGINT)").alias(
            "mse_units"
        ),
        F.expr(
            f"CAST((1000000 * ({sst} - n * sse) + {_OFF} * nullif({sst}, 0))"
            f" div nullif({sst}, 0) - {_OFF} AS BIGINT)"
        ).alias("r2_micro"),
    )


# --------------------------------------------------------------------------
# srd1 — Spearman-vs-Pearson disagreement of forecast vs actual (round 12)
# --------------------------------------------------------------------------

_SRD1_SQL = f"""
WITH {_SES_FC_CTES},
ranked AS (
  SELECT event_type, t, y_t, f,
         CAST(f // 1000000 AS HUGEINT) AS xw,
         CAST(row_number() OVER (ORDER BY f, event_type, t) AS BIGINT) AS rx,
         CAST(row_number() OVER (ORDER BY y_t, event_type, t) AS BIGINT) AS ry
  FROM fc
),
s AS (
  SELECT CAST(count(*) AS HUGEINT) AS n,
         CAST(sum(xw) AS HUGEINT) AS sx,
         CAST(sum(y_t) AS HUGEINT) AS sy,
         CAST(sum(xw * xw) AS HUGEINT) AS sx2,
         CAST(sum(y_t * y_t) AS HUGEINT) AS sy2,
         CAST(sum(xw * y_t) AS HUGEINT) AS sxy,
         CAST(sum((rx - ry) * (rx - ry)) AS HUGEINT) AS sd2
  FROM ranked
)
SELECT CAST(n AS BIGINT) AS n_pairs,
       CAST((1000000 * (n * (n * n - 1) - 6 * sd2)
             + {_OFF} * NULLIF(n * (n * n - 1), 0))
            // NULLIF(n * (n * n - 1), 0) - {_OFF} AS BIGINT) AS rho_micro,
       CAST(sign(n * sxy - sx * sy) AS BIGINT) AS pearson_sign,
       CAST((1000000 * (n * sxy - sx * sy) * (n * sxy - sx * sy))
            // NULLIF((n * sx2 - sx * sx) * (n * sy2 - sy * sy), 0)
            AS BIGINT) AS pearson_sq_micro,
       CAST(sign(n * (n * n - 1) - 6 * sd2)
            * ((1000000 * (n * (n * n - 1) - 6 * sd2)
                        * (n * (n * n - 1) - 6 * sd2))
               // NULLIF(n * (n * n - 1) * n * (n * n - 1), 0))
          - sign(n * sxy - sx * sy)
            * ((1000000 * (n * sxy - sx * sy) * (n * sxy - sx * sy))
               // NULLIF((n * sx2 - sx * sx) * (n * sy2 - sy * sy), 0))
            AS BIGINT) AS signed_sq_gap_micro
FROM s
"""


@query("srd1_spearman_pearson_gap", oracle=_SRD1_SQL)
def srd1_spearman_pearson_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman-vs-Pearson disagreement of the forecast/actual pair,
    pooled across (event_type, day): when the MONOTONE association
    (Spearman) is high but the LINEAR one (Pearson) is low, the
    forecast ranks days correctly but is miscalibrated in level
    (outliers or nonlinearity) — the classic reason an eval that
    only reports Pearson r ships a broken regressor. The third
    member of r11 task 6's regression harness: reg1 gives absolute
    error, this separates ordering skill from calibration.

    Exactness: Spearman runs on deterministic integer ranks
    (row_number with the unique (event_type, t) tiebreak — corr1's
    documented tie convention) so rho = 1 - 6*Sd2/(n(n^2-1)) exits
    as ONE OFF-shifted integral micro division; Pearson follows the
    mcc1/ccf1 signed-square convention on whole-count-quantized
    forecasts (f // 1e6 — a deterministic <=1-count truncation
    mirrored in both engines, keeping the squared numerator inside
    DECIMAL(38,0) through ~1e6 events/day). The gap is the signed
    difference of the two squared coefficients — exact integers
    end to end.

    Scale shape: the input is the CALENDAR-BOUNDED forecast frame
    (types x spine days, ~145 rows at any corpus size), so the two
    global rank windows are single-partition over a bounded spine —
    the ap1-documented exception — and everything else is one 1-row
    aggregate. The 100 TB cost is reg1's daily count, nothing more."""
    fc = _ses_forecast_frame(spark, sf_dir)
    dec = "decimal(38,0)"
    ranked = fc.select(
        "event_type",
        "t",
        F.col("y_t").cast(dec).alias("y"),
        F.expr("CAST(f_micro div 1000000 AS DECIMAL(38,0))").alias("xw"),
        F.row_number()
        .over(Window.orderBy("f_micro", "event_type", "t"))
        .cast("long")
        .alias("rx"),
        F.row_number()
        .over(Window.orderBy("y_t", "event_type", "t"))
        .cast("long")
        .alias("ry"),
    )
    d = F.col("rx") - F.col("ry")
    s = ranked.agg(
        F.count("*").cast(dec).alias("n"),
        F.sum("xw").cast(dec).alias("sx"),
        F.sum("y").cast(dec).alias("sy"),
        F.sum(F.col("xw") * F.col("xw")).cast(dec).alias("sx2"),
        F.sum(F.col("y") * F.col("y")).cast(dec).alias("sy2"),
        F.sum(F.col("xw") * F.col("y")).cast(dec).alias("sxy"),
        F.sum((d * d).cast(dec)).cast(dec).alias("sd2"),
    )
    rho_num = "(n * (n * n - 1) - 6 * sd2)"
    rho_den = "(n * (n * n - 1))"
    p_num = "(n * sxy - sx * sy)"
    p_den = "((n * sx2 - sx * sx) * (n * sy2 - sy * sy))"
    rho_sq = (
        f"(1000000 * {rho_num} * {rho_num})"
        f" div nullif({rho_den} * {rho_den}, 0)"
    )
    p_sq = f"(1000000 * {p_num} * {p_num}) div nullif({p_den}, 0)"
    return s.select(
        F.col("n").cast("long").alias("n_pairs"),
        F.expr(
            f"CAST((1000000 * {rho_num} + {_OFF} * nullif({rho_den}, 0))"
            f" div nullif({rho_den}, 0) - {_OFF} AS BIGINT)"
        ).alias("rho_micro"),
        F.expr(f"CAST(sign({p_num}) AS BIGINT)").alias("pearson_sign"),
        F.expr(f"CAST({p_sq} AS BIGINT)").alias("pearson_sq_micro"),
        F.expr(
            f"CAST(sign({rho_num}) * ({rho_sq})"
            f" - sign({p_num}) * ({p_sq}) AS BIGINT)"
        ).alias("signed_sq_gap_micro"),
    )


# --------------------------------------------------------------------------
# fleiss1 — Fleiss' kappa across the three dedup detectors (round 12)
# --------------------------------------------------------------------------

from .extended import _D3M_SQL, _D4_FP_CTES  # noqa: E402

#: Shared CTE chain ending in ``s(n, s1, s2, nfa, nfb, nfc)`` — the
#: exact integer sufficient statistics of the three detectors' row
#: flags (fleiss1's machinery, factored in round 13 so Cochran's Q
#: (cochq1) reads the SAME aggregate rather than a re-derivation).
_RATER_S_CTES = f"""{_D4_FP_CTES},
lshp AS (SELECT doc_a, doc_b FROM ({_D3M_SQL}) t),
lshdocs AS (
  SELECT doc_a AS ld FROM lshp UNION SELECT doc_b FROM lshp
),
shdocs AS (
  SELECT doc_a AS sd FROM simcand UNION SELECT doc_b FROM simcand
),
base AS (
  SELECT doc_id, md5(text) AS h FROM documents
  WHERE doc_id IS NOT NULL AND text IS NOT NULL
),
hc AS (SELECT h, count(*) AS c FROM base GROUP BY h),
flags AS (
  SELECT CASE WHEN hc.c >= 2 THEN 1 ELSE 0 END AS fa,
         CASE WHEN ld.ld IS NOT NULL THEN 1 ELSE 0 END AS fb,
         CASE WHEN sd.sd IS NOT NULL THEN 1 ELSE 0 END AS fc
  FROM base b
  JOIN hc USING (h)
  LEFT JOIN lshdocs ld ON ld.ld = b.doc_id
  LEFT JOIN shdocs sd ON sd.sd = b.doc_id
),
s AS (
  SELECT CAST(count(*) AS HUGEINT) AS n,
         CAST(sum(fa + fb + fc) AS HUGEINT) AS s1,
         CAST(sum((fa + fb + fc) * (fa + fb + fc)) AS HUGEINT) AS s2,
         CAST(sum(fa) AS HUGEINT) AS nfa,
         CAST(sum(fb) AS HUGEINT) AS nfb,
         CAST(sum(fc) AS HUGEINT) AS nfc
  FROM flags
)"""

_FLEISS1_SQL = materialized(f"""
WITH {_RATER_S_CTES}
SELECT CAST(n AS BIGINT) AS n_docs,
       CAST(nfa AS BIGINT) AS exact_flags,
       CAST(nfb AS BIGINT) AS lsh_flags,
       CAST(nfc AS BIGINT) AS simhash_flags,
       CAST((1000000 * (2 * s2 - 6 * s1 + 6 * n)) // NULLIF(6 * n, 0)
            AS BIGINT) AS pbar_micro,
       CAST((1000000 * (3 * n * (2 * s2 - 6 * s1 + 6 * n)
                        - 2 * (s1 * s1 + (3 * n - s1) * (3 * n - s1)))
             + {_OFF} * NULLIF(18 * n * n
                        - 2 * (s1 * s1 + (3 * n - s1) * (3 * n - s1)), 0))
            // NULLIF(18 * n * n
                      - 2 * (s1 * s1 + (3 * n - s1) * (3 * n - s1)), 0)
            - {_OFF} AS BIGINT) AS kappa_micro
FROM s
""")


def _detector_flag_sums(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-row frame ``(n, s1, s2, nfa, nfb, nfc)`` as DECIMAL(38,0):
    the exact sufficient statistics of the three deployed duplicate
    detectors' per-doc flags (exact-md5 / MinHash-LSH / SimHash) —
    the Spark twin of ``_RATER_S_CTES``, shared by fleiss1 (chance-
    corrected agreement) and cochq1 (marginal-homogeneity test)."""
    from ..functions.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
        simhash_band_pairs,
    )

    docs = load(spark, sf_dir, "documents")
    base = docs.filter(
        F.col("doc_id").isNotNull() & F.col("text").isNotNull()
    ).select("doc_id", F.md5("text").alias("h"))
    hc = base.groupBy("h").agg(F.count("*").alias("c"))
    sigs = minhash_signatures(docs, hash_family="md5")
    lshp = lsh_candidate_pairs(sigs, band_key="slice").filter(
        F.col("est_jaccard") >= 0.5
    )
    lshdocs = (
        lshp.select(F.col("doc_a").alias("ld"))
        .union(lshp.select(F.col("doc_b").alias("ld")))
        .distinct()
        .withColumn("in_lsh", F.lit(1))
    )
    shp = simhash_band_pairs(docs, max_hamming=3)
    shdocs = (
        shp.select(F.col("doc_a").alias("sd"))
        .union(shp.select(F.col("doc_b").alias("sd")))
        .distinct()
        .withColumn("in_sh", F.lit(1))
    )
    flags = (
        base.join(hc, "h")
        .join(lshdocs, base["doc_id"] == lshdocs["ld"], "left")
        .join(shdocs, base["doc_id"] == shdocs["sd"], "left")
        .select(
            F.when(F.col("c") >= 2, 1).otherwise(0).alias("fa"),
            F.when(F.col("in_lsh").isNotNull(), 1).otherwise(0).alias("fb"),
            F.when(F.col("in_sh").isNotNull(), 1).otherwise(0).alias("fc"),
        )
    )
    dec = "decimal(38,0)"
    x = F.col("fa") + F.col("fb") + F.col("fc")
    return flags.agg(
        F.count("*").cast(dec).alias("n"),
        F.sum(x).cast(dec).alias("s1"),
        F.sum(x * x).cast(dec).alias("s2"),
        F.sum("fa").cast(dec).alias("nfa"),
        F.sum("fb").cast(dec).alias("nfb"),
        F.sum("fc").cast(dec).alias("nfc"),
    )


@query("fleiss1_multirater_kappa", oracle=_FLEISS1_SQL)
def fleiss1_multirater_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fleiss' kappa (Fleiss 1971) across the corpus' THREE deployed
    duplicate detectors — exact-md5 (d1's rule), MinHash-LSH shingle
    Jaccard (d3m's md5 family, est >= 0.5, doc flagged iff it
    appears in any candidate pair), and SimHash bag-of-words (d4,
    Hamming <= 3) — the inter-rater generalization kappa1's 2-rater
    form cannot give (verdict r11 task 6; da1 compares PAIR SETS of
    two detectors, this rates chance-discounted agreement of all
    three row-level flags on the whole population). Low kappa with
    high raw agreement is the redundancy-review signal: the
    detectors agree mostly because most docs are unique.

    Exactness: with n=3 raters and 2 categories, per-doc agreement
    P_i = [x(x-1) + (3-x)(2-x)]/6 needs only S1 = sum(x) and
    S2 = sum(x^2) (x = flags per doc), so
    kappa = [3N(2*S2 - 6*S1 + 6N) - 2(S1^2 + (3N-S1)^2)]
          / [18N^2 - 2(S1^2 + (3N-S1)^2)]
    — ONE OFF-shifted integral micro division of exact integer
    sums (denominator >= 0 since S1^2+(3N-S1)^2 <= 9N^2, NULL when
    every rater is unanimous on every doc); pbar_micro is the raw
    mean agreement companion. 1e6*18N^2 fits DECIMAL(38,0) to
    N ~ 1e15 docs — no realistic bound.

    Scale shape: strictly the union of d1's md5 groupBy, d3m's
    documented LSH shape, and d4's simhash shape, followed by two
    distinct-doc projections of PAIR-SIZED relations (<< corpus),
    two doc-keyed left joins, and one 1-row aggregate (shared with
    cochq1 via ``_detector_flag_sums``). Nothing all-pairs, nothing
    corpus-quadratic."""
    s = _detector_flag_sums(spark, sf_dir)
    pe2 = "(s1 * s1 + (3 * n - s1) * (3 * n - s1))"
    num = f"(3 * n * (2 * s2 - 6 * s1 + 6 * n) - 2 * {pe2})"
    den = f"(18 * n * n - 2 * {pe2})"
    return s.select(
        F.col("n").cast("long").alias("n_docs"),
        F.col("nfa").cast("long").alias("exact_flags"),
        F.col("nfb").cast("long").alias("lsh_flags"),
        F.col("nfc").cast("long").alias("simhash_flags"),
        F.expr(
            "CAST((1000000 * (2 * s2 - 6 * s1 + 6 * n))"
            " div nullif(6 * n, 0) AS BIGINT)"
        ).alias("pbar_micro"),
        F.expr(
            f"CAST((1000000 * {num} + {_OFF} * nullif({den}, 0))"
            f" div nullif({den}, 0) - {_OFF} AS BIGINT)"
        ).alias("kappa_micro"),
    )


# --------------------------------------------------------------------------
# gof1 — chi-square goodness-of-fit: weekday uniformity (round 12)
# --------------------------------------------------------------------------

#: chi^2_{0.95, df} at 6dp for df = 1..6 = min(span_days, 7) - 1 —
#: the frozen literal spine (seqdep1 convention: libm quantiles never
#: run; a df outside the spine — a single-day span — yields NULL)
_GOF1_CRIT = {
    1: 3_841_459,
    2: 5_991_465,
    3: 7_814_728,
    4: 9_487_729,
    5: 11_070_498,
    6: 12_591_587,
}

_GOF1_CRIT_SQL = ", ".join(f"({d}, {c})" for d, c in _GOF1_CRIT.items())

_GOF1_SQL = f"""
WITH d AS (
  SELECT event_type,
         CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))
              AS BIGINT) AS day
  FROM events WHERE ts IS NOT NULL AND event_type IS NOT NULL
),
o AS (
  SELECT event_type, ((day % 7) + 7) % 7 AS wd,
         CAST(count(*) AS HUGEINT) AS c,
         min(day) AS mn, max(day) AS mx
  FROM d GROUP BY 1, 2
),
w AS (
  SELECT event_type, wd, c,
         CAST(sum(c) OVER (PARTITION BY event_type) AS HUGEINT) AS n,
         min(mn) OVER (PARTITION BY event_type) AS mind,
         max(mx) OVER (PARTITION BY event_type) AS maxd
  FROM o
),
geom AS (
  SELECT event_type, wd, c, n,
         maxd - mind + 1 AS dd,
         (maxd - mind + 1) // 7 AS a,
         (maxd - mind + 1) % 7 AS r,
         ((mind % 7) + 7) % 7 AS wd0
  FROM w
),
occ AS (
  SELECT event_type, wd, c, n, dd,
         CASE WHEN a = 0 THEN 1 WHEN r = 0 THEN a
              ELSE a * (a + 1) END AS l,
         a + CASE WHEN (((wd - wd0) % 7) + 7) % 7 < r
                  THEN 1 ELSE 0 END AS occ
  FROM geom
),
agg AS (
  SELECT event_type, n, dd, l,
         CAST(sum((dd * c - n * occ) * (dd * c - n * occ) * (l // occ))
              AS HUGEINT) AS s_present,
         CAST(sum(occ) AS HUGEINT) AS occ_present
  FROM occ GROUP BY 1, 2, 3, 4
),
fin AS (
  SELECT event_type, n, dd,
         least(dd, 7) - 1 AS dfree,
         s_present + n * n * l * (dd - occ_present) AS num,
         n * dd * l AS den
  FROM agg
)
SELECT event_type,
       CAST(n AS BIGINT) AS n_events,
       CAST(dd AS BIGINT) AS span_days,
       CAST(dfree AS BIGINT) AS df,
       CAST((1000000 * num) // den AS BIGINT) AS chi2_micro,
       CASE WHEN cr.crit IS NOT NULL
            THEN 1000000 * num > cr.crit * den END AS nonuniform
FROM fin LEFT JOIN (VALUES {_GOF1_CRIT_SQL}) cr(df, crit)
  ON cr.df = fin.dfree
"""


@query("gof1_weekday_uniformity", oracle=_GOF1_SQL)
def gof1_weekday_uniformity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square goodness-of-fit of each event type's weekday mix
    against the CALENDAR-COMPOSITION-weighted uniform null (Pearson
    1900) — the ONE-sample member the inference family was missing:
    dq3/ks1/psi1 compare two empirical samples, this tests one
    sample against a DECLARED distribution, the shape a traffic
    model or cron-skew audit actually asserts ("is signup traffic
    flat across the week?"). alpha = .05.

    The null is FLAT DAILY TRAFFIC, not flat raw weekday counts
    (ADVICE r12): on a span that is not a whole number of weeks each
    weekday occurs a different number of times (occ_w in {a, a+1},
    a = D div 7, over the per-type span [min_day, max_day] of D
    days), so perfectly flat traffic has E_w = n*occ_w/D — the raw
    1/7 null conflated calendar composition with traffic skew and
    was biased toward 'nonuniform' at large n.

    Exactness: over the common denominator n*D*L — L = lcm of the
    occupancies: 1 if a = 0, a if D is whole weeks, else a*(a+1)
    (the two values are coprime neighbors) — each present-weekday
    term is the exact integer (D*O_w - n*occ_w)^2 * (L div occ_w),
    and ABSENT weekdays (O_w = 0, occ_w > 0) fold in closed form as
    n^2*L*(D - sum_present occ_w), the tcl1 convention — no densify
    join. chi2 exits as one floor division (the brier1 decimal
    spelling, not `div` — products reach ~(n*D)^2*L*1e6, inside
    DECIMAL(38,0) to n ~ 1e14 per type at D ~ 30). df =
    min(D, 7) - 1; the alpha gate joins the FROZEN 6-row chi^2
    spine _GOF1_CRIT (libm never runs; a 1-day span has df = 0 and
    yields NULL, never a fabricated decision). Whole-week spans
    reduce algebraically to the old (7*Sigma O^2 - n^2)/n form.
    The weekday is the engine-shared epoch-day mod 7 (sign-folded),
    not either engine's locale-dependent dayofweek.

    Scale shape: one (type, weekday) counting groupBy carrying
    min/max day — the ONLY corpus pass; span geometry rides
    per-type windows over that <= 7-rows-per-type relation (never a
    second aggregate branch re-executing the scan), then k-row
    arithmetic and the 6-row broadcast spine join."""
    d = (
        load(spark, sf_dir, "events")
        .filter(F.col("ts").isNotNull() & F.col("event_type").isNotNull())
        .select(
            "event_type",
            F.datediff(F.to_date("ts"), F.lit("1970-01-01").cast("date"))
            .cast("long")
            .alias("day"),
        )
    )
    dec = "decimal(38,0)"
    o = d.groupBy(
        "event_type", F.pmod(F.col("day"), F.lit(7)).alias("wd")
    ).agg(
        F.count("*").cast(dec).alias("c"),
        F.min("day").alias("mn"),
        F.max("day").alias("mx"),
    )
    # span geometry via windows over the <= 7-rows-per-type relation —
    # NOT a separate per-type aggregate branch, which would re-execute
    # the corpus scan subtree (the seqdep1/brier1 lesson)
    wt = Window.partitionBy("event_type")
    w = o.select(
        "event_type",
        "wd",
        "c",
        F.sum("c").over(wt).cast(dec).alias("n"),
        F.min("mn").over(wt).alias("mind"),
        F.max("mx").over(wt).alias("maxd"),
    )
    occ = w.select(
        "event_type",
        "wd",
        "c",
        "n",
        F.expr("maxd - mind + 1").alias("dd"),
        F.expr("(maxd - mind + 1) div 7").alias("a"),
        F.expr("(maxd - mind + 1) % 7").alias("r"),
        F.pmod(F.col("mind"), F.lit(7)).alias("wd0"),
    ).select(
        "event_type",
        "wd",
        "c",
        "n",
        "dd",
        F.expr(
            "CASE WHEN a = 0 THEN 1 WHEN r = 0 THEN a"
            " ELSE a * (a + 1) END"
        ).alias("l"),
        F.expr(
            "a + CASE WHEN pmod(wd - wd0, 7) < r THEN 1 ELSE 0 END"
        ).alias("occ"),
    )
    agg = occ.groupBy("event_type", "n", "dd", "l").agg(
        F.sum(
            F.expr(
                "(dd * c - n * occ) * (dd * c - n * occ) * (l div occ)"
            ).cast(dec)
        )
        .cast(dec)
        .alias("s_present"),
        F.sum("occ").cast(dec).alias("occ_present"),
    )
    fin = agg.select(
        "event_type",
        "n",
        "dd",
        (F.least(F.col("dd"), F.lit(7)) - 1).cast("long").alias("dfree"),
        F.expr(
            "CAST(s_present + n * n * l * (dd - occ_present)"
            " AS DECIMAL(38,0))"
        ).alias("num"),
        F.expr("CAST(n * dd * l AS DECIMAL(38,0))").alias("den"),
    )
    crit = spark.createDataFrame(
        [(k, v) for k, v in _GOF1_CRIT.items()], "cdf LONG, crit LONG"
    )
    return fin.join(
        F.broadcast(crit), F.col("dfree") == F.col("cdf"), "left"
    ).select(
        "event_type",
        F.col("n").cast("long").alias("n_events"),
        F.col("dd").cast("long").alias("span_days"),
        F.col("dfree").alias("df"),
        # exact decimal floor (a - a%b)/b, NOT `div` (the brier1
        # spelling): 1e6*num can exceed what IntegralDivide's LongType
        # quotient path handles at extreme n
        F.expr(
            "CAST((1000000 * num - (1000000 * num) % den) / den"
            " AS BIGINT)"
        ).alias("chi2_micro"),
        F.when(
            F.col("crit").isNotNull(), F.expr("1000000 * num > crit * den")
        ).alias("nonuniform"),
    )


# --------------------------------------------------------------------------
# tost1 — TOST equivalence test between experiment arms (round 12)
# --------------------------------------------------------------------------

_TOST_DELTA_CENTS = 10  # declared equivalence margin: 10 cents of mean value
_TOST_Z2_MICRO = 2_705_543  # z_{0.05}^2 = 1.644854^2 = 2.705543 in micro

_TOST1_SQL = f"""
WITH per AS (
  SELECT event_type,
         CAST(count(*) FILTER (WHERE user_id % 2 = 0) AS BIGINT) AS n_a,
         CAST(coalesce(sum(CAST(round(value * 100) AS BIGINT))
                FILTER (WHERE user_id % 2 = 0), 0) AS HUGEINT) AS s_a,
         CAST(coalesce(sum(CAST(round(value * 100) AS BIGINT)
                           * CAST(round(value * 100) AS BIGINT))
                FILTER (WHERE user_id % 2 = 0), 0) AS HUGEINT) AS q_a,
         CAST(count(*) FILTER (WHERE user_id % 2 <> 0) AS BIGINT) AS n_b,
         CAST(coalesce(sum(CAST(round(value * 100) AS BIGINT))
                FILTER (WHERE user_id % 2 <> 0), 0) AS HUGEINT) AS s_b,
         CAST(coalesce(sum(CAST(round(value * 100) AS BIGINT)
                           * CAST(round(value * 100) AS BIGINT))
                FILTER (WHERE user_id % 2 <> 0), 0) AS HUGEINT) AS q_b
  FROM events WHERE value IS NOT NULL AND user_id IS NOT NULL
  GROUP BY event_type
),
z AS (
  SELECT event_type, n_a, n_b,
         (s_a * n_b - s_b * n_a) AS d,
         (n_a * q_a - s_a * s_a) AS ss_a,
         (n_b * q_b - s_b * s_b) AS ss_b
  FROM per
)
SELECT event_type, n_a, n_b,
       CAST((1000000 * abs(d)) // NULLIF(CAST(n_a AS HUGEINT) * n_b, 0)
            AS BIGINT) AS abs_gap_cents_micro,
       CASE WHEN n_a >= 2 AND n_b >= 2 THEN
         abs(d) < {_TOST_DELTA_CENTS} * CAST(n_a AS HUGEINT) * n_b
         AND 1000000 * ({_TOST_DELTA_CENTS} * CAST(n_a AS HUGEINT) * n_b
                        - abs(d))
                     * ({_TOST_DELTA_CENTS} * CAST(n_a AS HUGEINT) * n_b
                        - abs(d))
                     * (n_a - 1) * (n_b - 1)
             > {_TOST_Z2_MICRO}
               * (CAST(n_b AS HUGEINT) * n_b * ss_a * (n_b - 1)
                  + CAST(n_a AS HUGEINT) * n_a * ss_b * (n_a - 1))
       END AS equivalent
FROM z
"""


@query("tost1_equivalence_test", oracle=_TOST1_SQL)
def tost1_equivalence_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOST equivalence test (Schuirmann 1987, two one-sided tests)
    between the id-parity experiment arms on mean event value —
    the question ab1/ab2 CANNOT answer: a non-significant z-test is
    absence of evidence, not evidence of equivalence, and the
    decision a data-swap / pipeline-migration readout actually
    needs is "are the arms provably within +-10 cents?" (the
    declared margin _TOST_DELTA_CENTS). Both one-sided alpha=.05
    z-tests must reject, which collapses to
    |gap| < delta AND (delta - |gap|)/se > z_alpha.

    Exactness: ab2's exact machinery reused — cents fixed-point,
    d = s_a*n_b - s_b*n_a, ss_i = n_i*q_i - s_i^2, and the TOST
    condition cleared of every denominator:
    1e6*(delta*n_a*n_b - |d|)^2*(n_a-1)(n_b-1)
      > z2micro*(n_b^2*ss_a*(n_b-1) + n_a^2*ss_b*(n_a-1))
    with z_alpha^2 frozen at 6dp (_TOST_Z2_MICRO = 2705543) — an
    integer comparison, libm never runs. NULL (no decision) when
    either arm lacks a variance estimate (n < 2). Width bound
    (anova1 convention): the LHS carries delta^2*n^6, so
    DECIMAL(38,0)/HUGEINT holds through ~1e5 events per type at
    adversarial 2e7 values (~1e6 at normal cent scales); rescale
    cents to dollars past that.

    Scale shape: identical to ab2 — ONE map-side-combined
    groupBy(event_type) over three columns, all six power sums in
    the same pass, zero joins/windows."""
    ev = load(spark, sf_dir, "events").filter(
        F.col("value").isNotNull() & F.col("user_id").isNotNull()
    )
    a = F.col("user_id") % 2 == 0
    c = F.round(F.col("value") * 100).cast("long")
    dec = lambda x: x.cast("decimal(38,0)")  # noqa: E731
    zero = F.lit(0).cast("decimal(38,0)")
    per = (
        ev.select("event_type", a.alias("a"), c.alias("c"))
        .groupBy("event_type")
        .agg(
            F.count_if(F.col("a")).alias("n_a"),
            F.coalesce(
                F.sum(F.when(F.col("a"), dec(F.col("c")))), zero
            ).alias("s_a"),
            F.coalesce(
                F.sum(F.when(F.col("a"), dec(F.col("c") * F.col("c")))), zero
            ).alias("q_a"),
            F.count_if(~F.col("a")).alias("n_b"),
            F.coalesce(
                F.sum(F.when(~F.col("a"), dec(F.col("c")))), zero
            ).alias("s_b"),
            F.coalesce(
                F.sum(F.when(~F.col("a"), dec(F.col("c") * F.col("c")))), zero
            ).alias("q_b"),
        )
    )
    z = per.select(
        "event_type",
        "n_a",
        "n_b",
        (F.col("s_a") * dec(F.col("n_b")) - F.col("s_b") * dec(F.col("n_a")))
        .alias("d"),
        (dec(F.col("n_a")) * F.col("q_a") - F.col("s_a") * F.col("s_a"))
        .alias("ss_a"),
        (dec(F.col("n_b")) * F.col("q_b") - F.col("s_b") * F.col("s_b"))
        .alias("ss_b"),
    )
    m = f"{_TOST_DELTA_CENTS} * CAST(n_a AS DECIMAL(38,0)) * n_b"
    return z.select(
        "event_type",
        "n_a",
        "n_b",
        F.expr(
            "CAST((1000000 * abs(d))"
            " div nullif(CAST(n_a AS DECIMAL(38,0)) * n_b, 0) AS BIGINT)"
        ).alias("abs_gap_cents_micro"),
        F.expr(
            f"CASE WHEN n_a >= 2 AND n_b >= 2 THEN"
            f" abs(d) < {m}"
            f" AND 1000000 * ({m} - abs(d)) * ({m} - abs(d))"
            f"     * (n_a - 1) * (n_b - 1)"
            f"   > {_TOST_Z2_MICRO}"
            f"     * (CAST(n_b AS DECIMAL(38,0)) * n_b * ss_a * (n_b - 1)"
            f"        + CAST(n_a AS DECIMAL(38,0)) * n_a * ss_b * (n_a - 1))"
            f" END"
        ).alias("equivalent"),
    )




# --------------------------------------------------------------------------
# cv1 — k-fold split exchangeability audit (round 12)
# --------------------------------------------------------------------------

_CV_FOLDS = 5

_CV1_SQL = f"""
WITH base AS (
  SELECT doc_id, md5(text) AS h,
         CAST(len(regexp_extract_all(text, '\\S+')) AS BIGINT) AS n_tok,
         (lang = 'en') AS is_en,
         (({CE_HASH64_SQL.format(
             h="md5('cv|'||CAST(doc_id AS VARCHAR))")})
          % {_CV_FOLDS} + {_CV_FOLDS}) % {_CV_FOLDS} AS fold
  FROM documents WHERE doc_id IS NOT NULL AND text IS NOT NULL
),
hc AS (SELECT h, count(*) AS c FROM base GROUP BY h),
tot AS (
  SELECT CAST(count(*) AS HUGEINT) AS nt,
         CAST(sum(n_tok) AS HUGEINT) AS tt
  FROM base
)
SELECT fold,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST((5000 * count(*)) // t.nt AS BIGINT) AS share_permille_of_fair,
       CAST(sum(b.n_tok) AS BIGINT) AS n_tokens,
       CAST((5000 * sum(b.n_tok)) // NULLIF(t.tt, 0) AS BIGINT)
         AS tok_share_permille_of_fair,
       CAST(count(*) FILTER (WHERE hc.c >= 2) AS BIGINT) AS dup_docs,
       CAST(count(*) FILTER (WHERE b.is_en) AS BIGINT) AS en_docs
FROM base b JOIN hc USING (h) CROSS JOIN tot t
GROUP BY fold, t.nt, t.tt
"""


@query("cv1_fold_balance_audit", oracle=_CV1_SQL)
def cv1_fold_balance_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-fold cross-validation split audit (K=5): deterministic
    salted-hash fold assignment plus the per-fold exchangeability
    profile an eval harness must check BEFORE trusting fold-wise
    scores — doc share, token share (both as permille of the fair
    K-th share: 1000 = perfectly fair), exact-dup membership (d1's
    rule — dups concentrated in one fold leak train into eval), and
    language mix. Completes the split family: split1-3 produce
    train/val boundaries, this audits the K-fold generalization of
    them the way place2 audits place1's placement.

    Exactness: the fold is the salted cross-engine hash
    pmod(ce_hash64('cv|' || doc_id), 5) — deterministic, replayed
    bit-for-bit by the oracle's md5 form; every profile column is an
    exact count/sum and the two shares are single integral permille
    divisions against the broadcast 1-row totals.

    Scale shape: one md5-keyed counting groupBy (the d1/kappa1
    shape), one doc-keyed join back, one broadcast 1-row totals
    crossJoin, one K-row groupBy. No pairwise anything."""
    docs = load(spark, sf_dir, "documents")
    base = docs.filter(
        F.col("doc_id").isNotNull() & F.col("text").isNotNull()
    ).select(
        "doc_id",
        F.md5("text").alias("h"),
        F.size(tokens(F.col("text"))).cast("long").alias("n_tok"),
        (F.col("lang") == "en").alias("is_en"),
        F.pmod(
            ce_hash64(
                F.concat(F.lit("cv|"), F.col("doc_id").cast("string"))
            ),
            F.lit(_CV_FOLDS),
        ).alias("fold"),
    )
    hc = base.groupBy("h").agg(F.count("*").alias("c"))
    tot = base.agg(
        F.count("*").cast("decimal(38,0)").alias("nt"),
        F.sum("n_tok").cast("decimal(38,0)").alias("tt"),
    )
    return (
        base.join(hc, "h")
        .crossJoin(F.broadcast(tot))
        .groupBy("fold", "nt", "tt")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_tok").cast("long").alias("n_tokens"),
            F.count(F.when(F.col("c") >= 2, 1)).cast("long").alias("dup_docs"),
            F.count(F.when(F.col("is_en"), 1)).cast("long").alias("en_docs"),
        )
        .select(
            "fold",
            "n_docs",
            F.expr(
                f"CAST(({_CV_FOLDS * 1000} * n_docs) div nt AS BIGINT)"
            ).alias("share_permille_of_fair"),
            "n_tokens",
            F.expr(
                f"CAST(({_CV_FOLDS * 1000} * n_tokens)"
                " div nullif(tt, 0) AS BIGINT)"
            ).alias("tok_share_permille_of_fair"),
            "dup_docs",
            "en_docs",
        )
    )


# --------------------------------------------------------------------------
# brier1 — Brier score + Murphy decomposition of the en-score (round 12)
# --------------------------------------------------------------------------

_BRIER_BINS = 10

_BRIER1_SQL = f"""
WITH scored AS (
  SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
         (1000000 * CAST(len(regexp_extract_all(lower(text),
                             '\\b(the|a|of|to|and)\\b')) AS BIGINT))
           // CAST(len(regexp_extract_all(text, '\\S+')) AS BIGINT)
           AS p
  FROM documents
  WHERE lang IS NOT NULL AND text IS NOT NULL
    AND len(regexp_extract_all(text, '\\S+')) > 0
),
binned AS (
  SELECT least(p // {1000000 // _BRIER_BINS}, {_BRIER_BINS - 1}) AS bin,
         y, p
  FROM scored
),
bins AS (
  SELECT bin,
         CAST(count(*) AS HUGEINT) AS nb,
         CAST(sum(y) AS HUGEINT) AS yb,
         CAST(sum(p) AS HUGEINT) AS sb,
         CAST(sum((p - 1000000 * y) * (p - 1000000 * y)) AS HUGEINT) AS ssb
  FROM binned GROUP BY bin
),
tot1 AS (
  SELECT CAST(sum(nb) AS HUGEINT) AS n, CAST(sum(yb) AS HUGEINT) AS yy
  FROM bins
),
tot AS (
  SELECT t.n, t.yy,
         CAST(sum(b.ssb) AS HUGEINT) AS sse,
         CAST(sum((b.sb - 1000000 * b.yb) * (b.sb - 1000000 * b.yb) // b.nb)
              AS HUGEINT) AS rel_q,
         CAST(sum((t.n * b.yb - b.nb * t.yy)
                  * (t.n * b.yb - b.nb * t.yy) // b.nb) AS HUGEINT) AS res_q
  FROM bins b CROSS JOIN tot1 t
  GROUP BY t.n, t.yy
)
SELECT CAST(n AS BIGINT) AS n_docs,
       CAST(sse // (n * 1000000) AS BIGINT) AS brier_micro,
       CAST(rel_q // (n * 1000000) AS BIGINT) AS rel_micro,
       CAST((1000000 * res_q) // (n * n * n) AS BIGINT) AS res_micro,
       CAST((1000000 * yy * (n - yy)) // (n * n) AS BIGINT) AS unc_micro
FROM tot
"""


@query("brier1_murphy_decomposition", oracle=_BRIER1_SQL)
def brier1_murphy_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brier score with the Murphy (1973) decomposition of the
    stopword-ratio en-score read as a probability: the mean squared
    probability error plus the three quantities that explain it —
    reliability REL (calibration gap, the part retraining the score
    map fixes), resolution RES (how much the bins separate outcomes,
    the part only a better feature fixes), and uncertainty
    UNC = ybar(1-ybar) (the irreducible base-rate floor). ece1 reads
    the calibration gap in L1; Brier is the proper-scoring-rule view
    (REL - RES + UNC reconstructs the BINNED Brier exactly; the raw
    brier_micro adds within-bin forecast variance on top), closing
    the calibration column of the eval harness.

    Exactness: p is the auc1/ece1 quantized micro score, y in
    {{0, 1e6}} micro; the raw Brier sum of squares is exact; REL and
    RES collapse to per-bin integral divisions of exact squares —
    (s_b - 1e6*y_b)^2 // n_b and (N*y_b - n_b*Y)^2 // n_b, the
    anova1 per-group-quotient shape (quantization < 1 unit per bin,
    10 bins) — and every exit is one more integral division. UNC is
    the exact 1e6*Y*(N-Y) // N^2. DECIMAL(38,0)/HUGEINT width:
    res_q carries N^4 so 38 digits hold to N ~ 3e9 docs; rescale
    past that (the mcc1 convention).

    Scale shape: ONE map-side-combinable (bin) groupBy over a
    per-row projection (10 groups) — the ONLY corpus pass (totals
    ride an unpartitioned window over the 10-row bin relation, not a
    second aggregate branch that would re-execute the scan; the plan
    gate asserts one scan). Runs per scoring-rule candidate, like
    cls1/ece1. The per-bin quotients use the exact decimal floor
    (a - a%b)/b, not `div` — they reach ~1e12*n_b and Spark's
    IntegralDivide wraps past int64 (the anova1 lesson)."""
    txt = F.col("text")
    hits = F.size(
        F.regexp_extract_all(
            F.lower(txt), F.lit(r"\b(the|a|of|to|and)\b"), 0
        )
    ).cast("long")
    toks = F.size(F.regexp_extract_all(txt, F.lit(r"\S+"), 0)).cast("long")
    dec = "decimal(38,0)"
    scored = (
        load(spark, sf_dir, "documents")
        .filter(F.col("lang").isNotNull() & txt.isNotNull())
        .filter(toks > 0)
        .select(
            F.when(F.col("lang") == "en", 1).otherwise(0).alias("y"),
            F.expr(
                "CAST((1000000 * CAST(size(regexp_extract_all(lower(text),"
                r" '\\b(the|a|of|to|and)\\b', 0)) AS BIGINT))"
                r" div CAST(size(regexp_extract_all(text, '\\S+', 0))"
                " AS BIGINT) AS BIGINT)"
            ).alias("p"),
        )
    )
    binned = scored.select(
        F.least(
            F.expr(f"p div {1000000 // _BRIER_BINS}"),
            F.lit(_BRIER_BINS - 1),
        ).alias("bin"),
        "y",
        "p",
    )
    bins = binned.groupBy("bin").agg(
        F.count("*").cast(dec).alias("nb"),
        F.sum("y").cast(dec).alias("yb"),
        F.sum("p").cast(dec).alias("sb"),
        F.sum(
            F.expr("(p - 1000000 * y) * (p - 1000000 * y)").cast(dec)
        ).cast(dec).alias("ssb"),
    )
    # totals as an unpartitioned window over the 10-row bin relation —
    # NOT a separate aggregate branch, which would re-execute the
    # corpus subtree (the plan gate asserts ONE scan)
    wall = Window.partitionBy()
    tot = (
        bins.select(
            "ssb",
            "sb",
            "yb",
            "nb",
            F.sum("nb").over(wall).cast(dec).alias("n"),
            F.sum("yb").over(wall).cast(dec).alias("yy"),
        )
        .select(
            "n",
            "yy",
            "ssb",
            # exact decimal floor (a - a%b)/b, NOT `div`: these per-bin
            # quotients are ~1e12*n_b and Spark's IntegralDivide returns
            # LongType, silently wrapping past int64 (the anova1 lesson)
            F.expr(
                "CAST(((sb - 1000000 * yb) * (sb - 1000000 * yb)"
                " - ((sb - 1000000 * yb) * (sb - 1000000 * yb)) % nb) / nb"
                " AS DECIMAL(38,0))"
            ).alias("relq"),
            F.expr(
                "CAST(((n * yb - nb * yy) * (n * yb - nb * yy)"
                " - ((n * yb - nb * yy) * (n * yb - nb * yy)) % nb) / nb"
                " AS DECIMAL(38,0))"
            ).alias("resq"),
        )
        .groupBy("n", "yy")
        .agg(
            F.sum("ssb").cast(dec).alias("sse"),
            F.sum("relq").cast(dec).alias("rel_q"),
            F.sum("resq").cast(dec).alias("res_q"),
        )
    )
    return tot.select(
        F.col("n").cast("long").alias("n_docs"),
        F.expr("CAST(sse div (n * 1000000) AS BIGINT)").alias("brier_micro"),
        F.expr("CAST(rel_q div (n * 1000000) AS BIGINT)").alias("rel_micro"),
        F.expr("CAST((1000000 * res_q) div (n * n * n) AS BIGINT)").alias(
            "res_micro"
        ),
        F.expr("CAST((1000000 * yy * (n - yy)) div (n * n) AS BIGINT)").alias(
            "unc_micro"
        ),
    )


# --------------------------------------------------------------------------
# tcl1 — t-closeness audit of the anonymization classes (round 12)
# --------------------------------------------------------------------------

_TCL_T_MICRO = 200_000  # declared closeness threshold t = 0.2

_TCL1_SQL = f"""
WITH sv AS (
  SELECT c_nationkey,
         CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_band,
         c_mktsegment AS seg,
         CAST(count(*) AS HUGEINT) AS c
  FROM customer GROUP BY 1, 2, 3
),
seg_tot AS (SELECT seg, CAST(sum(c) AS HUGEINT) AS cs FROM sv GROUP BY 1),
nt AS (SELECT CAST(sum(c) AS HUGEINT) AS n FROM sv),
cls_tot AS (
  SELECT c_nationkey, bal_band, CAST(sum(c) AS HUGEINT) AS nc
  FROM sv GROUP BY 1, 2
),
cls AS (
  SELECT sv.c_nationkey, sv.bal_band, ct.nc,
         CAST(sum(abs(t.n * sv.c - ct.nc * st.cs)) AS HUGEINT)
           AS present_num,
         CAST(sum(st.cs) AS HUGEINT) AS cs_present,
         any_value(t.n) AS n
  FROM sv
  JOIN seg_tot st ON st.seg IS NOT DISTINCT FROM sv.seg
  JOIN cls_tot ct
    ON ct.c_nationkey IS NOT DISTINCT FROM sv.c_nationkey
   AND ct.bal_band IS NOT DISTINCT FROM sv.bal_band
  CROSS JOIN nt t
  GROUP BY 1, 2, ct.nc
)
SELECT c_nationkey, bal_band,
       CAST(nc AS BIGINT) AS class_size,
       CAST((1000000 * (present_num + nc * (n - cs_present)))
            // (2 * nc * n) AS BIGINT) AS tvd_micro,
       (1000000 * (present_num + nc * (n - cs_present)))
         // (2 * nc * n) <= {_TCL_T_MICRO} AS t_close
FROM cls
"""


@query("tcl1_t_closeness", oracle=_TCL1_SQL)
def tcl1_t_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness audit (Li, Li & Venkatasubramanian 2007) of the
    anonymization classes anon1/priv2 certify: a class can be
    k-anonymous AND l-diverse yet still leak — when its sensitive
    distribution differs sharply from the global one, membership
    itself is informative (the skewness attack l-diversity misses).
    For the categorical sensitive attribute the prescribed distance
    is total variation: TVD = (1/2) * sum_s |c_s/n_c - C_s/N|, and
    the class passes when TVD <= t (t = 0.2 here). Completes the
    anonymization-audit triple: anon1 = size, priv2 = variety,
    tcl1 = representativeness.

    Exactness: over the common denominator n_c*N the per-segment
    term is |N*c_s - n_c*C_s|; segments ABSENT from a class
    contribute n_c*C_s each, which folds in closed form as
    n_c*(N - sum_present C_s) — no densify join. One integral
    micro division per class, gate as an integer compare. NULL
    segments form their own group on both engines (the priv2
    convention): BOTH joins — segment-total and class-total — are
    NULL-SAFE (eqNullSafe / IS NOT DISTINCT FROM), so a NULL
    sensitive value is a real segment with its own C_s, not an
    absent one folded at full weight (ADVICE r12: the plain equi
    seg join silently dropped NULL-seg rows), and a NULL balance
    band keeps its class.

    Scale shape: the priv2 stacked-aggregate shape plus one
    broadcast segment-total join (|segments| rows) and a broadcast
    1-row N — no window, no densify, classes never leave their
    partition."""
    c = load(spark, sf_dir, "customer")
    dec = "decimal(38,0)"
    sv = c.groupBy(
        "c_nationkey",
        F.floor(F.col("c_acctbal") / 1000).alias("bal_band"),
        F.col("c_mktsegment").alias("seg"),
    ).agg(F.count("*").cast(dec).alias("cseg"))
    seg_tot = sv.groupBy("seg").agg(F.sum("cseg").cast(dec).alias("cs"))
    nt = sv.agg(F.sum("cseg").cast(dec).alias("n"))
    cls_tot = sv.groupBy("c_nationkey", "bal_band").agg(
        F.sum("cseg").cast(dec).alias("nc")
    )
    ct = cls_tot.select(
        F.col("c_nationkey").alias("ct_nk"),
        F.col("bal_band").alias("ct_bb"),
        "nc",
    )
    st = seg_tot.select(F.col("seg").alias("st_seg"), "cs")
    cls = (
        sv.join(F.broadcast(st), F.col("seg").eqNullSafe(F.col("st_seg")))
        .join(
            ct,
            F.col("c_nationkey").eqNullSafe(F.col("ct_nk"))
            & F.col("bal_band").eqNullSafe(F.col("ct_bb")),
        )
        .crossJoin(F.broadcast(nt))
        .groupBy("c_nationkey", "bal_band", "nc", "n")
        .agg(
            F.sum(F.expr("abs(n * cseg - nc * cs)").cast(dec))
            .cast(dec)
            .alias("present_num"),
            F.sum("cs").cast(dec).alias("cs_present"),
        )
    )
    tvd = "(1000000 * (present_num + nc * (n - cs_present))) div (2 * nc * n)"
    return cls.select(
        "c_nationkey",
        F.col("bal_band").cast("long").alias("bal_band"),
        F.col("nc").cast("long").alias("class_size"),
        F.expr(f"CAST({tvd} AS BIGINT)").alias("tvd_micro"),
        F.expr(f"{tvd} <= {_TCL_T_MICRO}").alias("t_close"),
    )


# --------------------------------------------------------------------------
# seqdep1 — Anderson-Goodman Markov order test (round 12)
# --------------------------------------------------------------------------

#: chi^2_{0.95, df} at 6dp for df = (k-1)^2, k = 2..8 — the frozen
#: literal spine (rbo1/ewma1 convention: libm quantiles never run)
_SEQDEP_CRIT = {
    1: 3_841_459,
    4: 9_487_729,
    9: 16_918_978,
    16: 26_296_228,
    25: 37_652_484,
    36: 50_998_460,
    49: 66_338_649,
}

_SEQDEP_CRIT_SQL = ", ".join(f"({d}, {c})" for d, c in _SEQDEP_CRIT.items())

_SEQDEP1_SQL = f"""
WITH seq AS (
  SELECT user_id, event_type,
         lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS prev_type
  FROM events
  WHERE user_id IS NOT NULL AND ts IS NOT NULL AND event_type IS NOT NULL
),
tc AS (
  SELECT prev_type, event_type AS next_type, CAST(count(*) AS BIGINT) AS c
  FROM seq WHERE prev_type IS NOT NULL GROUP BY 1, 2
),
rm AS (SELECT prev_type, CAST(sum(c) AS BIGINT) AS r FROM tc GROUP BY 1),
cm AS (SELECT next_type, CAST(sum(c) AS BIGINT) AS col FROM tc GROUP BY 1),
nn AS (
  SELECT CAST(sum(c) AS BIGINT) AS t,
         CAST(count(DISTINCT prev_type) AS BIGINT) AS kr,
         CAST(count(DISTINCT next_type) AS BIGINT) AS kc
  FROM tc
),
terms AS (
  SELECT tc.c *
         CAST(round(round(ln(CAST(tc.c AS DOUBLE) * CAST(n.t AS DOUBLE)
           / (CAST(rm.r AS DOUBLE) * CAST(cm.col AS DOUBLE))), 6) * 1e6)
           AS BIGINT) AS s,
         n.t, n.kr, n.kc
  FROM tc JOIN rm USING (prev_type) JOIN cm USING (next_type), nn n
),
g AS (
  SELECT any_value(t) AS t,
         (any_value(kr) - 1) * (any_value(kc) - 1) AS df,
         CAST(2 * sum(s) AS BIGINT) AS g2
  FROM terms
)
SELECT CAST(g.t AS BIGINT) AS n_transitions,
       CAST(g.df AS BIGINT) AS df,
       g.g2 AS g2_micro,
       CASE WHEN cr.crit IS NOT NULL THEN g.g2 > cr.crit END AS dependent
FROM g LEFT JOIN (VALUES {_SEQDEP_CRIT_SQL}) cr(df, crit)
  ON cr.df = g.df
"""


@query("seqdep1_markov_order_test", oracle=_SEQDEP1_SQL)
def seqdep1_markov_order_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anderson-Goodman (1957) likelihood-ratio test of Markov order
    0 vs order 1 on the event chain: G^2 = 2*sum c_ij*ln(c_ij*T /
    (r_i*col_j)) over markov1's transition table against the
    independence null — does the NEXT event depend on the CURRENT
    one at all? The prerequisite the whole sequence family
    (markov1/markov2/seq1/att1) silently assumes: if G^2 can't
    reject independence, the transition matrix is noise and the
    stationary distribution is just the margin. llr1 asks this of
    word bigrams pair-by-pair; seqdep1 asks it of the whole
    behavioral chain in one number.

    Exactness: transition counts and both margins are exact
    integers off ONE lag pass (the markov1 shape); each cell's log
    ratio enters through the llr1 micro-nat pin (round(ln,6)*1e6 of
    a ratio of exact integers) so G^2 is a pure integer sum; df =
    (k_rows-1)*(k_cols-1) and the alpha=.05 gate joins a FROZEN
    7-row chi^2-quantile literal spine (k = 2..8 event types; a df
    outside the spine yields NULL, never a fabricated decision).

    Scale shape: one user-keyed lag window over the corpus (bounded
    per user), one (prev, next) counting groupBy (k^2 rows,
    domain-bounded); margins and totals are WINDOWS over that
    k^2-row table (separate aggregate branches would re-execute the
    corpus lag subtree — 4 scans, caught by the plan gate; the
    windows run on a domain-bounded relation). Nothing else touches
    the corpus."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = (
        load(spark, sf_dir, "events")
        .filter(
            F.col("user_id").isNotNull()
            & F.col("ts").isNotNull()
            & F.col("event_type").isNotNull()
        )
        .select(
            "event_type", F.lag("event_type").over(w).alias("prev_type")
        )
    )
    tc = (
        seq.filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count("*").cast("long").alias("c"))
    )
    # margins and totals as windows over the k^2-row transition table —
    # NOT separate aggregate branches, which would re-execute the
    # corpus lag subtree once per branch (4 scans; the plan gate
    # asserts ONE). All three windows run on a domain-bounded relation.
    wprev = Window.partitionBy("prev_type")
    wnext = Window.partitionBy("next_type")
    wall = Window.partitionBy()
    terms = (
        tc.select(
            "c",
            F.sum("c").over(wprev).cast("long").alias("r"),
            F.sum("c").over(wnext).cast("long").alias("col"),
            F.sum("c").over(wall).cast("long").alias("t"),
            F.size(F.collect_set("prev_type").over(wall))
            .cast("long")
            .alias("kr"),
            F.size(F.collect_set("next_type").over(wall))
            .cast("long")
            .alias("kc"),
        )
        .select(
            F.expr(
                "c * CAST(round(round(ln(CAST(c AS DOUBLE)"
                " * CAST(t AS DOUBLE) / (CAST(r AS DOUBLE)"
                " * CAST(col AS DOUBLE))), 6) * 1e6) AS BIGINT)"
            ).alias("s"),
            "t",
            "kr",
            "kc",
        )
    )
    crit = spark.createDataFrame(
        [(d, c) for d, c in _SEQDEP_CRIT.items()], "cdf LONG, crit LONG"
    )
    g = terms.groupBy("t", "kr", "kc").agg(
        (2 * F.sum("s")).cast("long").alias("g2")
    )
    return (
        g.select(
            F.col("t").alias("n_transitions"),
            ((F.col("kr") - 1) * (F.col("kc") - 1)).cast("long").alias("df"),
            F.col("g2").alias("g2_micro"),
        )
        .join(F.broadcast(crit), F.col("df") == F.col("cdf"), "left")
        .select(
            "n_transitions",
            "df",
            "g2_micro",
            F.when(
                F.col("crit").isNotNull(), F.col("g2_micro") > F.col("crit")
            ).alias("dependent"),
        )
    )


# --------------------------------------------------------------------------
# iqr1 — Tukey-fence outlier census per group (round 12)
# --------------------------------------------------------------------------

_IQR1_SQL = """
WITH v AS (
  SELECT l_returnflag AS g, CAST(round(l_extendedprice * 100) AS BIGINT) AS c
  FROM lineitem WHERE l_returnflag IS NOT NULL AND l_extendedprice IS NOT NULL
),
ranked AS (
  SELECT g, c,
         CAST(row_number() OVER (PARTITION BY g ORDER BY c) AS BIGINT) AS rn,
         CAST(count(*) OVER (PARTITION BY g) AS BIGINT) AS n
  FROM v
),
walls AS (
  SELECT g, c, n,
         max(CASE WHEN rn = (n + 3) // 4 THEN c END)
           OVER (PARTITION BY g) AS q1,
         max(CASE WHEN rn = (3 * n + 3) // 4 THEN c END)
           OVER (PARTITION BY g) AS q3
  FROM ranked
)
SELECT g AS l_returnflag,
       CAST(any_value(n) AS BIGINT) AS n_rows,
       any_value(q1) AS q1_cents,
       any_value(q3) AS q3_cents,
       CAST(count(*) FILTER (2 * c < 5 * q1 - 3 * q3) AS BIGINT)
         AS n_low_outliers,
       CAST(count(*) FILTER (2 * c > 5 * q3 - 3 * q1) AS BIGINT)
         AS n_high_outliers
FROM walls GROUP BY g
"""


@query("iqr1_tukey_fences", oracle=_IQR1_SQL)
def iqr1_tukey_fences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey-fence outlier census (Tukey 1977, the boxplot rule) of
    line price per return flag: values beyond Q1 - 1.5*IQR /
    Q3 + 1.5*IQR. Completes the robust-outlier triple — an1 flags by
    z-score (mean/stddev, itself outlier-sensitive), an2 by MAD,
    iqr1 by the quartile fences every boxplot and data-profiling
    report draws; the census (not per-row flags) is what a dq
    dashboard tracks.

    Exactness: prices are exact cents; quartiles are ORDER
    STATISTICS at ranks ceil(n/4) and ceil(3n/4) — integer rank
    arithmetic ((n+3)//4, (3n+3)//4), actual data values, no
    interpolation. The value at rank k is the SMALLEST cent whose
    cumulative count reaches k — computed on the (group, cents)
    VALUE SPINE (the imp1/gap1/mw1 convention), which is bit-equal
    to ranking the raw rows (ties collapse onto one spine row; the
    measure IS the sort key). The fences clear the /2 denominators
    by cross-multiplication: c < Q1 - 1.5*IQR <=> 2c < 5*Q1 - 3*Q3
    — pure integer compares, and the census sums spine COUNTS.

    Scale shape: ONE map-side-combinable (group, cents) groupBy is
    the only corpus pass; the cumulative, the two quartile walls,
    and the fence census all ride the value spine (per-group windows
    over DISTINCT CENTS — value-domain-bounded, not row-bounded).
    The r12 form ranked the raw rows: correct, but its window
    partitions by a 3-value group key, so parallelism collapses to
    |groups| tasks and wall grows linearly with rows/group — the r13
    scaling sweep measured e = 0.82/decade (0.89s -> 5.92s at 10x);
    the spine form re-measured e = 0.15 (SCALING.md r13)."""
    v = (
        load(spark, sf_dir, "lineitem")
        .filter(
            F.col("l_returnflag").isNotNull()
            & F.col("l_extendedprice").isNotNull()
        )
        .select(
            F.col("l_returnflag").alias("g"),
            F.round(F.col("l_extendedprice") * 100).cast("long").alias("c"),
        )
    )
    spine = v.groupBy("g", "c").agg(F.count("*").cast("long").alias("cnt"))
    byg = Window.partitionBy("g")
    sp = spine.select(
        "g",
        "c",
        "cnt",
        F.sum("cnt")
        .over(byg.orderBy("c").rowsBetween(Window.unboundedPreceding, 0))
        .cast("long")
        .alias("cum"),
        F.sum("cnt").over(byg).cast("long").alias("n"),
    )
    walls = sp.select(
        "g",
        "c",
        "cnt",
        "n",
        F.min(
            F.when(F.col("cum") >= F.expr("(n + 3) div 4"), F.col("c"))
        )
        .over(byg)
        .alias("q1"),
        F.min(
            F.when(F.col("cum") >= F.expr("(3 * n + 3) div 4"), F.col("c"))
        )
        .over(byg)
        .alias("q3"),
    )
    return walls.groupBy("g").agg(
        F.max("n").alias("n_rows"),
        F.max("q1").alias("q1_cents"),
        F.max("q3").alias("q3_cents"),
        F.coalesce(
            F.sum(
                F.when(
                    2 * F.col("c") < 5 * F.col("q1") - 3 * F.col("q3"),
                    F.col("cnt"),
                )
            ),
            F.lit(0),
        )
        .cast("long")
        .alias("n_low_outliers"),
        F.coalesce(
            F.sum(
                F.when(
                    2 * F.col("c") > 5 * F.col("q3") - 3 * F.col("q1"),
                    F.col("cnt"),
                )
            ),
            F.lit(0),
        )
        .cast("long")
        .alias("n_high_outliers"),
    ).select(
        F.col("g").alias("l_returnflag"),
        "n_rows",
        "q1_cents",
        "q3_cents",
        "n_low_outliers",
        "n_high_outliers",
    )


# --------------------------------------------------------------------------
# gof2 — Benford first-digit chi-square decision gate (round 12)
# --------------------------------------------------------------------------

#: 6dp micro literals of log10(1 + 1/d), d = 1..9 — they sum to
#: EXACTLY 1e6, so n*E_d partitions n without residue handling
_BENFORD_E = {
    1: 301030, 2: 176091, 3: 124939, 4: 96910, 5: 79181,
    6: 66947, 7: 57992, 8: 51153, 9: 45757,
}
assert sum(_BENFORD_E.values()) == 1_000_000
_BENFORD_E_SQL = ", ".join(f"({d}, {e})" for d, e in _BENFORD_E.items())
_GOF2_CRIT_MICRO = 15_507_313  # chi^2_{0.95, df=8} = 15.507313

_GOF2_SQL = f"""
WITH c AS (
  SELECT CAST(substr(CAST(CAST(round(o_totalprice * 100) AS BIGINT)
                     AS VARCHAR), 1, 1) AS BIGINT) AS d
  FROM orders WHERE o_totalprice IS NOT NULL AND o_totalprice > 0
),
o AS (SELECT d, CAST(count(*) AS HUGEINT) AS cnt FROM c GROUP BY d),
spine(d, e) AS (VALUES {_BENFORD_E_SQL}),
nt AS (SELECT CAST(sum(cnt) AS HUGEINT) AS n FROM o),
terms AS (
  SELECT (1000000 * COALESCE(o.cnt, 0) - t.n * s.e)
         * (1000000 * COALESCE(o.cnt, 0) - t.n * s.e)
         // (t.n * s.e) AS q,
         t.n
  FROM spine s LEFT JOIN o USING (d) CROSS JOIN nt t
)
SELECT CAST(any_value(n) AS BIGINT) AS n_orders,
       CAST(sum(q) AS BIGINT) AS chi2_micro,
       sum(q) > {_GOF2_CRIT_MICRO} AS benford_reject
FROM terms
"""


@query("gof2_benford_gate", oracle=_GOF2_SQL)
def gof2_benford_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit chi-square decision gate (Newcomb 1881 /
    Benford 1938; Nigrini's forensic-accounting test) on order
    totals: dq7 emits the observed digit distribution, this makes
    the DECISION — chi-square against the declared Benford null
    E_d = log10(1+1/d), df = 8, alpha = .05. With gof1 (uniform
    null) it gives the declared-distribution family both a flat and
    a logarithmic reference. (Synthetic uniform-ish totals SHOULD
    reject — the gate detects distribution shape, and the honest
    answer on this corpus is 'not Benford'.)

    Exactness: digits come from the decimal string of exact cents
    (no float logs); the expected weights are FROZEN 6dp micro
    literals that sum to exactly 1e6 (so the null partitions n
    without residue); each of the 9 terms is one integral division
    (1e6*O_d - n*e_d)^2 // (n*e_d) off the densified literal spine
    (absent digits contribute their full n*e_d term via the LEFT
    join), and the alpha gate is an integer compare against the
    frozen df=8 critical value. Spark `div` wrap bound: the
    quotient is <= ~2.2e7*n, inside int64 through n ~ 4e11 orders.

    Scale shape: one counting groupBy onto <= 9 rows, a broadcast
    9-row literal spine, a broadcast 1-row total. Nothing else."""
    c = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice").isNotNull() & (F.col("o_totalprice") > 0))
        .select(
            F.substring(
                F.round(F.col("o_totalprice") * 100).cast("long").cast("string"),
                1,
                1,
            )
            .cast("long")
            .alias("d")
        )
    )
    dec = "decimal(38,0)"
    o = c.groupBy("d").agg(F.count("*").cast(dec).alias("cnt"))
    spine = spark.createDataFrame(
        [(d, e) for d, e in _BENFORD_E.items()], "d LONG, e LONG"
    )
    nt = o.agg(F.sum("cnt").cast(dec).alias("n"))
    terms = (
        F.broadcast(spine)
        .join(o, "d", "left")
        .crossJoin(F.broadcast(nt))
        .select(
            "n",
            F.expr(
                "(1000000 * COALESCE(cnt, CAST(0 AS DECIMAL(38,0))) - n * e)"
                " * (1000000 * COALESCE(cnt, CAST(0 AS DECIMAL(38,0))) - n * e)"
                " div (n * e)"
            ).alias("q"),
        )
    )
    return terms.groupBy("n").agg(
        F.sum("q").cast("long").alias("chi2_micro")
    ).select(
        F.col("n").cast("long").alias("n_orders"),
        "chi2_micro",
        (F.col("chi2_micro") > _GOF2_CRIT_MICRO).alias("benford_reject"),
    )


# --------------------------------------------------------------------------
# caldrift1 — per-ingestion-batch Spiegelhalter calibration Z (round 13)
# --------------------------------------------------------------------------

_CALDRIFT_BATCHES = 10  # heaps1's arrival-order id-range decile rule
_CALDRIFT_Z2_MICRO = 3_841_459  # chi^2_{0.05, df=1} = z_{0.025}^2 in micro

_CALDRIFT1_SQL = f"""
WITH scored AS (
  SELECT doc_id,
         CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
         least((1000 * CAST(len(regexp_extract_all(lower(text),
                                '\\b(the|a|of|to|and)\\b')) AS BIGINT))
               // CAST(len(regexp_extract_all(text, '\\S+')) AS BIGINT),
               1000) AS p
  FROM documents
  WHERE doc_id IS NOT NULL AND lang IS NOT NULL AND text IS NOT NULL
    AND len(regexp_extract_all(text, '\\S+')) > 0
),
nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM scored),
b AS (
  SELECT CAST(floor(CAST({_CALDRIFT_BATCHES} * doc_id AS DOUBLE)
                    / CAST(nn.n AS DOUBLE)) AS BIGINT) + 1 AS batch,
         y, p
  FROM scored CROSS JOIN nn
),
agg AS (
  SELECT batch,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(y) AS BIGINT) AS n_pos,
         CAST(sum(p) AS HUGEINT) AS conf_sum,
         CAST(sum((1000 * y - p) * (1000 - 2 * p)) AS HUGEINT) AS num,
         CAST(sum((1000 - 2 * p) * (1000 - 2 * p) * p * (1000 - p))
              AS HUGEINT) AS den
  FROM b GROUP BY 1
)
SELECT batch, n_docs,
       CAST((1000 * n_pos) // n_docs AS BIGINT) AS acc_permille,
       CAST(conf_sum // n_docs AS BIGINT) AS conf_permille,
       CASE WHEN den > 0
            THEN CAST((1000000 * num * num) // den AS BIGINT) END
         AS z2_micro,
       CASE WHEN den > 0
            THEN 1000000 * num * num > {_CALDRIFT_Z2_MICRO} * den END
         AS miscalibrated
FROM agg
"""


@query("caldrift1_calibration_drift", oracle=_CALDRIFT1_SQL)
def caldrift1_calibration_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-ingestion-batch Spiegelhalter (1986) calibration Z-test of
    the en-score read as a probability — the MONITORING view of
    calibration the r12 verdict asked for: ece1/brier1 compress
    calibration into one corpus-level number, caldrift1 asks WHICH
    arrival windows are miscalibrated, with a principled per-batch
    decision instead of a binned gap. Spiegelhalter's statistic
    Z = sum (y-p)(1-2p) / sqrt(sum (1-2p)^2 p(1-p)) is the exact
    standardization of the Brier score against its
    calibrated-forecast null — the test statisticians actually use
    for "are these probabilities honest", and (unlike a binned ECE
    threshold) it needs no bin count. Batches are heaps1's
    arrival-order id-range deciles (floor(10*id/N)+1, one IEEE
    double rule both engines share) — the corpus-health axis the
    drift family (drift1/psi1/cpd1) already reads.

    Exactness: p is the brier1/ece1 stopword score floor-quantized
    to PERMILLE and clamped to 1000 (a token like "a,of" can match
    two stopwords; both engines clamp identically), y in {0, 1000};
    num = sum (1000y-p)(1000-2p) and den = sum (1000-2p)^2 p(1000-p)
    are exact integers (milli^2 / milli^4 units), z^2 exits as ONE
    integral micro division num^2/den and the alpha gate is the
    cross-multiplied integer compare vs the 6dp-frozen chi^2_{1}
    critical value — libm never runs. den = 0 (every p at 0 or
    1000) yields NULL, never a fabricated decision. DECIMAL(38,0)
    width: 1e6*num^2 carries n^2*1e18, inside 38 digits to ~3e9
    docs per batch; rescale past that (the mcc1 convention).

    Scale shape: ONE map-side-combinable (batch) groupBy over a
    per-row projection — 10 groups — plus heaps1's broadcast 1-row
    count for the batch rule. The cheapest monitoring shape there
    is; runs per scoring-rule candidate like cls1/ece1/brier1."""
    txt = F.col("text")
    hits = F.size(
        F.regexp_extract_all(
            F.lower(txt), F.lit(r"\b(the|a|of|to|and)\b"), 0
        )
    ).cast("long")
    toks = F.size(F.regexp_extract_all(txt, F.lit(r"\S+"), 0)).cast("long")
    dec = "decimal(38,0)"
    scored = (
        load(spark, sf_dir, "documents")
        .filter(
            F.col("doc_id").isNotNull()
            & F.col("lang").isNotNull()
            & txt.isNotNull()
        )
        .filter(toks > 0)
        .select(
            "doc_id",
            F.when(F.col("lang") == "en", 1).otherwise(0).alias("y"),
            F.least(
                F.expr(
                    "CAST((1000 * CAST(size(regexp_extract_all(lower(text),"
                    r" '\\b(the|a|of|to|and)\\b', 0)) AS BIGINT))"
                    r" div CAST(size(regexp_extract_all(text, '\\S+', 0))"
                    " AS BIGINT) AS BIGINT)"
                ),
                F.lit(1000),
            ).alias("p"),
        )
    )
    nn = scored.agg(F.count("*").cast("long").alias("n"))
    b = scored.join(F.broadcast(nn)).select(
        (
            F.floor(
                (F.lit(_CALDRIFT_BATCHES) * F.col("doc_id")).cast("double")
                / F.col("n").cast("double")
            ).cast("long")
            + 1
        ).alias("batch"),
        "y",
        "p",
    )
    agg = b.groupBy("batch").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("y").cast("long").alias("n_pos"),
        F.sum("p").cast(dec).alias("conf_sum"),
        F.sum(F.expr("(1000 * y - p) * (1000 - 2 * p)").cast(dec))
        .cast(dec)
        .alias("num"),
        F.sum(
            F.expr("(1000 - 2 * p) * (1000 - 2 * p) * p * (1000 - p)").cast(
                dec
            )
        )
        .cast(dec)
        .alias("den"),
    )
    return agg.select(
        "batch",
        "n_docs",
        F.expr("CAST((1000 * n_pos) div n_docs AS BIGINT)").alias(
            "acc_permille"
        ),
        F.expr("CAST(conf_sum div n_docs AS BIGINT)").alias("conf_permille"),
        # exact decimal floor (a - a%b)/b, NOT `div` (the brier1
        # spelling): 1e6*num^2 reaches n^2*1e18 and IntegralDivide's
        # LongType quotient path wraps past int64
        F.when(
            F.col("den") > 0,
            F.expr(
                "CAST((1000000 * num * num - (1000000 * num * num) % den)"
                " / den AS BIGINT)"
            ),
        ).alias("z2_micro"),
        F.when(
            F.col("den") > 0,
            F.expr(f"1000000 * num * num > {_CALDRIFT_Z2_MICRO} * den"),
        ).alias("miscalibrated"),
    )


# --------------------------------------------------------------------------
# pperm1 — paired sign-flip permutation test between rankers (round 13)
# --------------------------------------------------------------------------

_PPERM_K = 20  # deterministic sign-flip rounds (perm1 convention)
_PPERM_POOL = 20  # neighbor pool depth per arm (_MRR_K convention)
_PPERM_PREFIX = 16  # Matryoshka prefix dims (ndcg1/emb4 convention)

_PPERM_HASH_SQL = CE_HASH64_SQL.format(
    h="md5('pperm|' || CAST(u.k AS VARCHAR) || '|' || CAST(q_id AS VARCHAR))"
)

_PPERM1_SQL = f"""
WITH base AS (
  SELECT vec_id, label, embedding,
         (SELECT SUM(CAST(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)
                      AS DECIMAL(28,14)))
          FROM unnest(embedding) AS t(x)) AS n2,
         (SELECT SUM(CAST(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)
                      AS DECIMAL(28,14)))
          FROM unnest(embedding[1:{_PPERM_PREFIX}]) AS t(x)) AS p2
  FROM embeddings WHERE vec_id IS NOT NULL AND label IS NOT NULL
),
pmod AS (
  SELECT {_MRR_PMOD_SQL} AS p
  FROM (SELECT CAST(count(*) AS BIGINT) AS n FROM base) t
),
good AS (SELECT * FROM base WHERE n2 > 0 AND p2 > 0),
probes AS (
  SELECT vec_id AS q_id, label AS q_label, embedding AS qv,
         n2 AS qn2, p2 AS qp2
  FROM good
  WHERE vec_id % (SELECT p FROM pmod) = 0 AND vec_id <> 0
),
pairs AS (
  SELECT p.q_id, p.q_label, c.vec_id, c.label,
         unnest(c.embedding) AS x, unnest(p.qv) AS y,
         generate_subscripts(c.embedding, 1) AS i,
         c.n2 AS cn2, c.p2 AS cp2, p.qn2, p.qp2
  FROM probes p JOIN good c ON c.vec_id <> p.q_id
),
dots AS (
  SELECT q_id, q_label, vec_id, label,
         SUM(CAST(CAST(x AS DOUBLE) * CAST(y AS DOUBLE)
             AS DECIMAL(28,14))) AS dot_f,
         SUM(CAST(CAST(x AS DOUBLE) * CAST(y AS DOUBLE)
             AS DECIMAL(28,14))) FILTER (i <= {_PPERM_PREFIX}) AS dot_p,
         any_value(cn2) AS cn2, any_value(cp2) AS cp2,
         any_value(qn2) AS qn2, any_value(qp2) AS qp2
  FROM pairs GROUP BY q_id, q_label, vec_id, label
),
ranked AS (
  SELECT q_id, q_label, label, vec_id,
         row_number() OVER (PARTITION BY q_id
           ORDER BY round(CAST(dot_f AS DOUBLE)
             / (sqrt(CAST(cn2 AS DOUBLE)) * sqrt(CAST(qn2 AS DOUBLE))), 6)
             DESC, vec_id) AS rn_f,
         row_number() OVER (PARTITION BY q_id
           ORDER BY round(CAST(dot_p AS DOUBLE)
             / (sqrt(CAST(cp2 AS DOUBLE)) * sqrt(CAST(qp2 AS DOUBLE))), 6)
             DESC, vec_id) AS rn_p
  FROM dots
),
diffs AS (
  SELECT q_id,
         coalesce(1000000 // min(CASE WHEN rn_f <= {_PPERM_POOL}
                                   AND label = q_label THEN rn_f END), 0)
         - coalesce(1000000 // min(CASE WHEN rn_p <= {_PPERM_POOL}
                                     AND label = q_label THEN rn_p END), 0)
           AS d
  FROM ranked GROUP BY q_id
),
tobs AS (
  SELECT CAST(count(*) AS BIGINT) AS n_probes,
         CAST(sum(d) AS BIGINT) AS t_obs
  FROM diffs
),
pt AS (
  SELECT u.k,
         CAST(sum(CASE WHEN (({_PPERM_HASH_SQL}) & 1) = 0
                       THEN d ELSE -d END) AS BIGINT) AS t_k
  FROM diffs, UNNEST(range(1, {_PPERM_K} + 1)) u(k)
  GROUP BY u.k
)
SELECT t.n_probes,
       t.t_obs AS t_obs_micro,
       CAST((t.t_obs + {_OFF} * t.n_probes) // t.n_probes - {_OFF}
            AS BIGINT) AS mean_gap_micro,
       CAST(count(*) FILTER (abs(p.t_k) >= abs(t.t_obs)) AS BIGINT)
         AS n_extreme,
       CAST((1000 * (1 + count(*) FILTER (abs(p.t_k) >= abs(t.t_obs))))
            // ({_PPERM_K} + 1) AS BIGINT) AS p_permille
FROM tobs t, pt p
GROUP BY t.n_probes, t.t_obs
"""


@query("pperm1_paired_ranker_test", oracle=_PPERM1_SQL)
def pperm1_paired_ranker_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paired sign-flip permutation test (Good, "Permutation Tests";
    the paired arm of perm1's Fisher/Edgington randomization family)
    on per-probe reciprocal-rank differences between the EXACT
    full-dim cosine ranking and the 16-dim Matryoshka-prefix ranking
    — the ranker-COMPARISON decision the r12 verdict asked for:
    emb4/ndcg1 measure HOW MUCH the cheap index loses, pperm1 asks
    whether the loss is statistically REAL or probe-panel noise
    before anyone swaps index configurations over it. Pairing by
    probe removes between-probe variance — the whole point of the
    paired design; under H0 (arms exchangeable per probe) each
    difference's SIGN is a fair coin, so flipping signs with the
    md5-family deterministic draws replays the null exactly.

    Exactness: per-probe RR is mrr1's 1e6 div first-same-label-rank
    (0 outside the pool); d = rr_full - rr_prefix is an exact signed
    integer; T_obs = sum d and every permuted T_k are exact BIGINT
    sums; sign draws come from ce_hash64('pperm|k|q_id') & 1 (the
    perm1/dp1 deterministic-randomness rule) so both engines replay
    identical flips; the Monte-Carlo p is (1 + #extreme)/(K+1) as
    one integral permille division, and the mean gap exits through
    the OFF-shifted floor division (signed numerator). Both cosines
    round once at 6dp with the vec_id tiebreak (the sim_cosine
    convention); vectors with a zero FULL or zero PREFIX norm are
    excluded from both arms so the candidate sets are identical
    (a nonzero vector whose first 16 dims are all zero has no
    prefix-cosine — the ndcg1 HAVING rule, applied symmetrically).

    Scale shape: ONE probe x corpus score stream computes BOTH dots
    per pair (the prefix fold rides the same row — no second corpus
    pass, unlike the oracle's readable two-sum form); the probe
    panel is mrr1's constant-bounded 10-100 ids (same dense-id
    assumption, documented there); both rank windows partition BY
    PROBE and share one exchange; everything after the rank filter
    — diffs, the x{_PPERM_K} sign-flip expansion, the permutation
    distribution — is probe-sized (<= 100 rows x 20)."""
    pre = _PPERM_PREFIX
    emb0 = (
        load_spread(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id").isNotNull() & F.col("label").isNotNull())
        .select(
            "vec_id",
            "label",
            "embedding",
            _dot(F.col("embedding"), F.col("embedding")).alias("n2"),
            _dot(
                F.slice(F.col("embedding"), 1, pre),
                F.slice(F.col("embedding"), 1, pre),
            ).alias("p2"),
        )
    )
    pmod = emb0.agg(F.count("*").cast("long").alias("n")).select(
        F.expr(
            "CAST(concat('1', repeat('0',"
            " greatest(length(CAST(n AS STRING)) - 2, 0))) AS BIGINT)"
        ).alias("p")
    )
    good = emb0.filter((F.col("n2") > 0) & (F.col("p2") > 0))
    probes = (
        good.crossJoin(F.broadcast(pmod))
        .filter(
            (F.col("vec_id") % F.col("p") == 0) & (F.col("vec_id") != 0)
        )
        .select(
            F.col("vec_id").alias("q_id"),
            F.col("label").alias("q_label"),
            F.col("embedding").alias("qv"),
            F.col("n2").alias("qn2"),
            F.col("p2").alias("qp2"),
        )
    )
    scored = (
        good.crossJoin(F.broadcast(probes))
        .filter(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            "q_label",
            "vec_id",
            "label",
            F.round(
                _dot(F.col("embedding"), F.col("qv")).cast("double")
                / (
                    F.sqrt(F.col("n2").cast("double"))
                    * F.sqrt(F.col("qn2").cast("double"))
                ),
                6,
            ).alias("cos_f"),
            F.round(
                _dot(
                    F.slice(F.col("embedding"), 1, pre),
                    F.slice(F.col("qv"), 1, pre),
                ).cast("double")
                / (
                    F.sqrt(F.col("p2").cast("double"))
                    * F.sqrt(F.col("qp2").cast("double"))
                ),
                6,
            ).alias("cos_p"),
        )
    )
    wf = Window.partitionBy("q_id").orderBy(F.col("cos_f").desc(), "vec_id")
    wp = Window.partitionBy("q_id").orderBy(F.col("cos_p").desc(), "vec_id")
    ranked = scored.select(
        "q_id",
        "q_label",
        "label",
        F.row_number().over(wf).alias("rn_f"),
        F.row_number().over(wp).alias("rn_p"),
    )
    rel = F.col("label") == F.col("q_label")
    diffs = (
        ranked.groupBy("q_id")
        .agg(
            F.min(
                F.when(rel & (F.col("rn_f") <= _PPERM_POOL), F.col("rn_f"))
            ).alias("fr_f"),
            F.min(
                F.when(rel & (F.col("rn_p") <= _PPERM_POOL), F.col("rn_p"))
            ).alias("fr_p"),
        )
        .select(
            "q_id",
            F.expr(
                "coalesce(1000000 div fr_f, 0)"
                " - coalesce(1000000 div fr_p, 0)"
            ).alias("d"),
        )
    )
    # observed total and panel size ride an unpartitioned window over
    # the PROBE-SIZED diffs relation (<= 100 rows — the srd1/ap1
    # documented exception) so the permutation arm shares ONE lineage
    # with the observed arm: a separate 1-row aggregate branch would
    # re-execute the whole probe x corpus score subtree (verified in
    # the plan: two q_id exchanges before this rewrite, one after)
    wall = Window.partitionBy()
    dtot = diffs.select(
        "q_id",
        "d",
        F.sum("d").over(wall).cast("long").alias("t_obs"),
        F.count("*").over(wall).cast("long").alias("n_probes"),
    )
    pt = (
        dtot.select(
            "q_id",
            "d",
            "t_obs",
            "n_probes",
            F.explode(F.sequence(F.lit(1), F.lit(_PPERM_K))).alias("k"),
        )
        .select(
            "k",
            "t_obs",
            "n_probes",
            F.when(
                ce_hash64(
                    F.concat(
                        F.lit("pperm|"),
                        F.col("k").cast("string"),
                        F.lit("|"),
                        F.col("q_id").cast("string"),
                    )
                ).bitwiseAND(F.lit(1))
                == 0,
                F.col("d"),
            )
            .otherwise(-F.col("d"))
            .alias("sd"),
        )
        .groupBy("k", "t_obs", "n_probes")
        .agg(F.sum("sd").cast("long").alias("t_k"))
    )
    extreme = F.count(
        F.when(F.abs(F.col("t_k")) >= F.abs(F.col("t_obs")), 1)
    ).cast("long")
    return (
        pt.groupBy("n_probes", "t_obs")
        .agg(extreme.alias("n_extreme"))
        .select(
            "n_probes",
            F.col("t_obs").alias("t_obs_micro"),
            F.expr(
                f"CAST((t_obs + {_OFF} * n_probes) div n_probes - {_OFF}"
                " AS BIGINT)"
            ).alias("mean_gap_micro"),
            "n_extreme",
            F.expr(
                f"CAST((1000 * (1 + n_extreme)) div ({_PPERM_K} + 1)"
                " AS BIGINT)"
            ).alias("p_permille"),
        )
    )


# --------------------------------------------------------------------------
# mcn1 — McNemar paired test between two classifiers (round 13)
# --------------------------------------------------------------------------

_MCN_CRIT_MICRO = 3_841_459  # chi^2_{0.05, df=1} in micro

_MCN1_SQL = f"""
WITH scored AS (
  SELECT source,
         lang = 'en' AS truth,
         50 * CAST(len(regexp_extract_all(lower(text),
                       '\\b(the|a|of|to|and)\\b')) AS BIGINT)
           > CAST(len(regexp_extract_all(text, '\\S+')) AS BIGINT) AS pa,
         CAST(strlen(text) AS BIGINT) = CAST(length(text) AS BIGINT) AS pb
  FROM documents
  WHERE lang IS NOT NULL AND text IS NOT NULL AND source IS NOT NULL
),
agg AS (
  SELECT source,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(count(*) FILTER (pa = truth) AS BIGINT) AS a_correct,
         CAST(count(*) FILTER (pb = truth) AS BIGINT) AS b_correct,
         CAST(count(*) FILTER (pa = truth AND pb <> truth) AS BIGINT) AS b01,
         CAST(count(*) FILTER (pa <> truth AND pb = truth) AS BIGINT) AS c10
  FROM scored GROUP BY 1
)
SELECT source, n_docs,
       CAST((1000 * a_correct) // n_docs AS BIGINT) AS acc_a_permille,
       CAST((1000 * b_correct) // n_docs AS BIGINT) AS acc_b_permille,
       b01 AS only_a_correct,
       c10 AS only_b_correct,
       CASE WHEN b01 + c10 > 0 THEN
         CAST((1000000 * greatest(abs(b01 - c10) - 1, 0)
                       * greatest(abs(b01 - c10) - 1, 0))
              // (b01 + c10) AS BIGINT) END AS chi2_micro,
       CASE WHEN b01 + c10 > 0 THEN
         1000000 * greatest(abs(b01 - c10) - 1, 0)
                 * greatest(abs(b01 - c10) - 1, 0)
           > {_MCN_CRIT_MICRO} * (b01 + c10) END AS rules_differ
FROM agg
"""


@query("mcn1_mcnemar_rules", oracle=_MCN1_SQL)
def mcn1_mcnemar_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """McNemar's (1947) paired test, continuity-corrected, between the
    two deployed lang-id decision rules on the SAME documents — the
    classifier sibling of pperm1's paired ranker test, closing the
    paired-comparison column of the eval harness: cls1/prt1 score one
    rule against truth, mcn1 asks whether rule A (cls1's stopword
    rule, 50*hits > tokens) and rule B (the pure-ASCII heuristic,
    byte length = char length) disagree MORE THAN CHANCE on the same
    corpus, per source. The discordant pairs are the whole story
    (concordant pairs cancel — the McNemar insight): b = A right & B
    wrong, c = A wrong & B right, chi^2 = max(|b-c|-1, 0)^2/(b+c)
    (the Edwards correction, clamped so b = c reads 0, not 1) vs
    chi^2_{{1}}. The decision a curation team actually faces —
    "replace the cheap rule with the cheaper one?" — needs exactly
    this paired view: two rules can have equal marginal accuracy yet
    be wrong on completely different documents.

    Exactness: all four cell counts are exact integers off ONE
    filtered aggregate; the corrected statistic exits as one
    non-negative integral micro division and the alpha gate is the
    cross-multiplied integer compare vs the frozen chi^2_1 critical
    value; b + c = 0 (rules agree everywhere) yields NULL, never a
    fabricated decision. Both predicates are engine-shared: the
    cls1 stopword rule verbatim, and bytes-vs-chars via
    octet_length/strlen = length (the qc5 pin — nothing for the
    regex or unicode dialects to disagree on).

    Scale shape: ONE map-side-combinable (source) groupBy over a
    per-row projection — the cls1 shape with a GROUP BY; no join,
    no window, no second pass."""
    txt = F.col("text")
    hits = F.size(
        F.regexp_extract_all(
            F.lower(txt), F.lit(r"\b(the|a|of|to|and)\b"), 0
        )
    ).cast("long")
    toks = F.size(F.regexp_extract_all(txt, F.lit(r"\S+"), 0)).cast("long")
    scored = (
        load(spark, sf_dir, "documents")
        .filter(
            F.col("lang").isNotNull()
            & txt.isNotNull()
            & F.col("source").isNotNull()
        )
        .select(
            "source",
            (F.col("lang") == "en").alias("truth"),
            (50 * hits > toks).alias("pa"),
            (
                F.octet_length(txt).cast("long")
                == F.length(txt).cast("long")
            ).alias("pb"),
        )
    )
    t = F.col("truth")
    agg = scored.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.count(F.when(F.col("pa") == t, 1)).cast("long").alias("a_correct"),
        F.count(F.when(F.col("pb") == t, 1)).cast("long").alias("b_correct"),
        F.count(F.when((F.col("pa") == t) & (F.col("pb") != t), 1))
        .cast("long")
        .alias("b01"),
        F.count(F.when((F.col("pa") != t) & (F.col("pb") == t), 1))
        .cast("long")
        .alias("c10"),
    )
    return agg.select(
        "source",
        "n_docs",
        F.expr("CAST((1000 * a_correct) div n_docs AS BIGINT)").alias(
            "acc_a_permille"
        ),
        F.expr("CAST((1000 * b_correct) div n_docs AS BIGINT)").alias(
            "acc_b_permille"
        ),
        F.col("b01").alias("only_a_correct"),
        F.col("c10").alias("only_b_correct"),
        F.when(
            F.col("b01") + F.col("c10") > 0,
            F.expr(
                "CAST((1000000 * greatest(abs(b01 - c10) - 1, 0)"
                " * greatest(abs(b01 - c10) - 1, 0))"
                " div (b01 + c10) AS BIGINT)"
            ),
        ).alias("chi2_micro"),
        F.when(
            F.col("b01") + F.col("c10") > 0,
            F.expr(
                f"1000000 * greatest(abs(b01 - c10) - 1, 0)"
                f" * greatest(abs(b01 - c10) - 1, 0)"
                f" > {_MCN_CRIT_MICRO} * (b01 + c10)"
            ),
        ).alias("rules_differ"),
    )


# --------------------------------------------------------------------------
# cochq1 — Cochran's Q across the three dedup detectors (round 13)
# --------------------------------------------------------------------------

_COCHQ_CRIT_MICRO = 5_991_465  # chi^2_{0.95, df=2} in micro

_COCHQ1_SQL = materialized(f"""
WITH {_RATER_S_CTES}
SELECT CAST(n AS BIGINT) AS n_docs,
       CAST(nfa AS BIGINT) AS exact_flags,
       CAST(nfb AS BIGINT) AS lsh_flags,
       CAST(nfc AS BIGINT) AS simhash_flags,
       CASE WHEN 3 * s1 - s2 > 0 THEN
         CAST((1000000 * 2 * (3 * (nfa * nfa + nfb * nfb + nfc * nfc)
                              - s1 * s1))
              // (3 * s1 - s2) AS BIGINT) END AS q_micro,
       CASE WHEN 3 * s1 - s2 > 0 THEN
         1000000 * 2 * (3 * (nfa * nfa + nfb * nfb + nfc * nfc) - s1 * s1)
           > {_COCHQ_CRIT_MICRO} * (3 * s1 - s2) END AS rates_differ
FROM s
""")


@query("cochq1_cochran_q", oracle=_COCHQ1_SQL)
def cochq1_cochran_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran's Q test (Cochran 1950) across the corpus' THREE
    deployed duplicate detectors — the k-rater marginal-homogeneity
    test mcn1's 2-rater McNemar cannot give, and the significance
    complement to fleiss1's effect size: fleiss1 says HOW MUCH the
    detectors' row flags agree beyond chance, cochq1 decides whether
    their FLAG RATES differ at all (do exact-md5, MinHash-LSH and
    SimHash flag statistically different fractions of the corpus?).
    A curation team reads the pair together: high kappa with
    significant Q = the detectors rank the same docs but one is
    systematically stricter — a threshold, not a methodology, gap.

    Exactness: with k=3 binary raters, Q = k(k-1)*sum_j(C_j - T/k)^2
    / (k*T - sum_i R_i^2) collapses onto the SAME sufficient
    statistics fleiss1 reads (T = S1, sum R_i^2 = S2, column totals
    nfa/nfb/nfc): Q = 2*(3*(nfa^2+nfb^2+nfc^2) - S1^2)/(3*S1 - S2).
    The numerator is 6*sum(C_j - S1/3)^2 >= 0, so Q exits as ONE
    non-negative integral micro division; the alpha gate is the
    cross-multiplied integer compare vs the frozen chi^2_2 critical.
    3*S1 - S2 = sum x(3-x) = 0 (every doc unanimous, x in {{0,3}})
    yields NULL, never a fabricated decision. 1e6*6*n^2 fits
    DECIMAL(38,0) to n ~ 1e15 docs — no realistic bound.

    Scale shape: identical to fleiss1 — the three detectors'
    documented shapes, two pair-sized distinct-doc projections, two
    doc-keyed left joins, ONE 1-row aggregate
    (``_detector_flag_sums``, shared code); only the k-row final
    projection differs. Nothing all-pairs, nothing quadratic.

    Reference basis: Cochran (1950), Biometrika 37; the k=3 binary
    collapse is standard (Conover, Practical Nonparametric
    Statistics sec. 4.6)."""
    s = _detector_flag_sums(spark, sf_dir)
    num = "(2 * (3 * (nfa * nfa + nfb * nfb + nfc * nfc) - s1 * s1))"
    den = "(3 * s1 - s2)"
    return s.select(
        F.col("n").cast("long").alias("n_docs"),
        F.col("nfa").cast("long").alias("exact_flags"),
        F.col("nfb").cast("long").alias("lsh_flags"),
        F.col("nfc").cast("long").alias("simhash_flags"),
        F.expr(
            f"CASE WHEN {den} > 0 THEN"
            f" CAST((1000000 * {num}) div {den} AS BIGINT) END"
        ).alias("q_micro"),
        F.expr(
            f"CASE WHEN {den} > 0 THEN"
            f" 1000000 * {num} > {_COCHQ_CRIT_MICRO} * {den} END"
        ).alias("rates_differ"),
    )


# --------------------------------------------------------------------------
# cliffs1 — Cliff's delta effect size between the corpus halves (round 13)
# --------------------------------------------------------------------------

from .mining import _MW_GRP_EVEN  # noqa: E402

#: Romano et al. (2006) |delta| thresholds in micro — frozen literals
#: so the label is a pure cross-multiplied integer compare
_CLIFFS_NEGLIGIBLE = 147_000
_CLIFFS_SMALL = 330_000
_CLIFFS_MEDIUM = 474_000

_CLIFFS1_SQL = f"""
WITH counts AS (
  SELECT n_chars,
         sum(CASE WHEN {_MW_GRP_EVEN} THEN 1 ELSE 0 END) AS w_v,
         sum(CASE WHEN NOT ({_MW_GRP_EVEN}) THEN 1 ELSE 0 END) AS b_v
  FROM documents
  GROUP BY n_chars
),
cum AS (
  SELECT w_v, b_v,
         COALESCE(sum(b_v) OVER (ORDER BY n_chars
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                          AND 1 PRECEDING), 0) AS b_less,
         sum(b_v) OVER () AS nb
  FROM counts
),
s AS (
  SELECT CAST(sum(w_v) AS HUGEINT) AS nw,
         CAST(any_value(nb) AS HUGEINT) AS nb,
         CAST(sum(w_v * b_less) AS HUGEINT) AS gt,
         CAST(sum(w_v * b_v) AS HUGEINT) AS ties,
         CAST(sum(w_v * (nb - b_less - b_v)) AS HUGEINT) AS lt
  FROM cum
)
SELECT CAST(nw AS BIGINT) AS n_ref,
       CAST(nb AS BIGINT) AS n_cand,
       CASE WHEN nw > 0 AND nb > 0 THEN
         CAST((1000000 * (gt - lt) + {_OFF} * (nw * nb)) // (nw * nb)
              - {_OFF} AS BIGINT) END AS delta_micro,
       CASE WHEN nw > 0 AND nb > 0 THEN
         CAST((1000000 * (2 * gt + ties)) // (2 * nw * nb) AS BIGINT)
       END AS avd_micro,
       CASE WHEN nw = 0 OR nb = 0 THEN NULL
            WHEN 1000000 * abs(gt - lt) < {_CLIFFS_NEGLIGIBLE} * nw * nb
              THEN 'negligible'
            WHEN 1000000 * abs(gt - lt) < {_CLIFFS_SMALL} * nw * nb
              THEN 'small'
            WHEN 1000000 * abs(gt - lt) < {_CLIFFS_MEDIUM} * nw * nb
              THEN 'medium'
            ELSE 'large' END AS magnitude
FROM s
"""


@query("cliffs1_cliffs_delta", oracle=_CLIFFS1_SQL)
def cliffs1_cliffs_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cliff's delta (Cliff 1993) between the two hash-parity halves
    of the corpus' sources on document length — the EFFECT SIZE
    companion mw1's Mann-Whitney z cannot give: at corpus n the U
    test flags microscopic shifts as significant, and the shipping
    decision ("is the drift big enough to care?") needs the
    dominance probability, not the p-value. delta = P(X>Y) - P(X<Y)
    on random cross-half pairs, with the Vargha-Delaney A
    ((2*gt+ties)/(2*nw*nb), the tie-aware dominance probability) as
    companion, and the Romano et al. (2006) magnitude label
    (negligible < 0.147 <= small < 0.33 <= medium < 0.474 <= large)
    as frozen micro literals.

    Exactness: all three pair censuses are exact integer sums off
    mw1's (n_chars, half) VALUE-SPINE counts — gt = sum_v w_v *
    B_less(v), lt via the complement, ties = sum_v w_v*b_v; NO pair
    is ever materialized. delta exits as the OFF-shifted integral
    micro division (delta in [-1,1]), A as a plain one, and the
    label compares 1e6*|gt-lt| against threshold*nw*nb — pure
    integers. Either half empty yields NULL, never a fabricated
    effect. 1e12*nw*nb fits DECIMAL(38,0) to n ~ 1e13 docs.

    Scale shape: mw1's exactly — ONE map-side-combinable value-key
    groupBy is the only corpus pass; the strictly-less cumulative
    and the half total ride windows over the value DOMAIN (the lm1
    vocabulary precedent, single-partition over |distinct lengths|
    rows, deliberate and documented); then one 1-row aggregate."""
    docs = load(spark, sf_dir, "documents")
    even = (
        F.pmod(ce_hash64(F.concat(F.lit("mw|"), F.col("source"))), F.lit(2))
        == 0
    )
    counts = docs.groupBy("n_chars").agg(
        F.sum(F.when(even, 1).otherwise(0)).alias("w_v"),
        F.sum(F.when(~even, 1).otherwise(0)).alias("b_v"),
    )
    wall = Window.partitionBy()
    cum = counts.select(
        "w_v",
        "b_v",
        F.coalesce(
            F.sum("b_v").over(
                Window.orderBy("n_chars").rowsBetween(
                    Window.unboundedPreceding, -1
                )
            ),
            F.lit(0),
        ).alias("b_less"),
        F.sum("b_v").over(wall).alias("nb"),
    )
    dec = "decimal(38,0)"
    s = cum.agg(
        F.sum("w_v").cast(dec).alias("nw"),
        F.max("nb").cast(dec).alias("nb"),
        F.sum(F.col("w_v") * F.col("b_less")).cast(dec).alias("gt"),
        F.sum(F.col("w_v") * F.col("b_v")).cast(dec).alias("ties"),
        F.sum(
            F.col("w_v") * (F.col("nb") - F.col("b_less") - F.col("b_v"))
        )
        .cast(dec)
        .alias("lt"),
    )
    return s.select(
        F.col("nw").cast("long").alias("n_ref"),
        F.col("nb").cast("long").alias("n_cand"),
        F.expr(
            f"CASE WHEN nw > 0 AND nb > 0 THEN"
            f" CAST((1000000 * (gt - lt) + {_OFF} * (nw * nb))"
            f" div (nw * nb) - {_OFF} AS BIGINT) END"
        ).alias("delta_micro"),
        F.expr(
            "CASE WHEN nw > 0 AND nb > 0 THEN"
            " CAST((1000000 * (2 * gt + ties)) div (2 * nw * nb)"
            " AS BIGINT) END"
        ).alias("avd_micro"),
        F.expr(
            f"CASE WHEN nw = 0 OR nb = 0 THEN NULL"
            f" WHEN 1000000 * abs(gt - lt) < {_CLIFFS_NEGLIGIBLE} * nw * nb"
            f" THEN 'negligible'"
            f" WHEN 1000000 * abs(gt - lt) < {_CLIFFS_SMALL} * nw * nb"
            f" THEN 'small'"
            f" WHEN 1000000 * abs(gt - lt) < {_CLIFFS_MEDIUM} * nw * nb"
            f" THEN 'medium'"
            f" ELSE 'large' END"
        ).alias("magnitude"),
    )


# --------------------------------------------------------------------------
# kruskal1 — Kruskal-Wallis H across return-flag groups (round 13)
# --------------------------------------------------------------------------

#: chi^2_{0.95, df} micro literals for df = k-1 = 1..6 (the gof1
#: frozen spine, inlined as a CASE so the decision needs no join)
_KRUSKAL_CRIT_CASE = (
    "CASE k - 1 WHEN 1 THEN 3841459 WHEN 2 THEN 5991465"
    " WHEN 3 THEN 7814728 WHEN 4 THEN 9487729"
    " WHEN 5 THEN 11070498 WHEN 6 THEN 12591587 END"
)

_KRUSKAL1_SQL = f"""
WITH v AS (
  SELECT l_returnflag AS g,
         CAST(round(l_extendedprice * 100) AS BIGINT) AS c
  FROM lineitem
  WHERE l_returnflag IS NOT NULL AND l_extendedprice IS NOT NULL
),
spine AS (SELECT g, c, CAST(count(*) AS HUGEINT) AS cnt FROM v GROUP BY 1, 2),
sp AS (
  SELECT g, c, cnt,
         COALESCE(sum(cnt) OVER (ORDER BY c
                                 RANGE BETWEEN UNBOUNDED PRECEDING
                                          AND 1 PRECEDING), 0) AS less,
         sum(cnt) OVER (PARTITION BY c) AS tot_v,
         row_number() OVER (PARTITION BY c ORDER BY g) AS rn
  FROM spine
),
grp AS (
  SELECT g, CAST(sum(cnt) AS HUGEINT) AS n_g,
         CAST(sum(cnt * (2 * less + tot_v + 1)) AS HUGEINT) AS q2_g,
         CAST(sum(CASE WHEN rn = 1
                       THEN tot_v * tot_v * tot_v - tot_v
                       ELSE 0 END) AS HUGEINT) AS tiep
  FROM sp GROUP BY 1
),
tot AS (
  SELECT g, n_g, q2_g,
         sum(n_g) OVER () AS n, sum(tiep) OVER () AS tie
  FROM grp
),
fin AS (
  SELECT CAST(any_value(n) AS HUGEINT) AS n,
         CAST(any_value(tie) AS HUGEINT) AS tie,
         CAST(count(*) AS BIGINT) AS k,
         CAST(sum((3000000 * (q2_g - n_g * (n + 1))
                           * (q2_g - n_g * (n + 1)))
                  // (n_g * n * (n + 1))) AS HUGEINT) AS hu
  FROM tot
)
SELECT CAST(n AS BIGINT) AS n_rows,
       k AS n_groups,
       CAST(k - 1 AS BIGINT) AS df,
       CASE WHEN n * n * n - n - tie > 0 THEN
         CAST((hu * (n * n * n - n)) // (n * n * n - n - tie) AS BIGINT)
       END AS h_micro,
       CASE WHEN n * n * n - n - tie > 0
             AND ({_KRUSKAL_CRIT_CASE}) IS NOT NULL THEN
         (hu * (n * n * n - n)) // (n * n * n - n - tie)
           > ({_KRUSKAL_CRIT_CASE}) END AS groups_differ
FROM fin WHERE k > 0
"""


@query("kruskal1_kruskal_wallis", oracle=_KRUSKAL1_SQL)
def kruskal1_kruskal_wallis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kruskal-Wallis H test (Kruskal & Wallis 1952) of line price
    across the return-flag groups — the k-sample rank ANOVA the
    two-sample mw1 cannot give and the rank-based sibling of
    anova1's variance decomposition (anova1 assumes the metric
    scale matters; this asks only whether SOME group's price
    distribution is stochastically shifted, robust to the heavy
    price tail). Tie-corrected, since cents quantization makes ties
    pervasive.

    Exactness: midranks are exact on the (group, cents) VALUE SPINE
    doubled to stay integral (q_v = 2*B_less(v) + t_v + 1, the mw1
    2U trick), so the per-group doubled rank sum Q_g and deviation
    D_g = Q_g - n_g*(N+1) are exact integers (sum_g D_g = 0). H
    collapses to 3/(N(N+1)) * sum_g D_g^2/n_g via the doubled-rank
    algebra; each group's term exits as one integral micro division
    (floor bias < 1 micro per group, identical in both engines),
    and the tie correction multiplies by (N^3-N)/((N^3-N) - sum_t
    (t^3-t)) as a second integral division. The alpha gate compares
    the quantized H against the frozen chi^2_{{k-1}} critical spine
    (df 1..6, the gof1 literals inlined as a CASE — no join). All
    values tied (N^3-N = sum T) yields NULL; k = 1 gives D = 0, H =
    0, df = 0 -> NULL decision. DECIMAL(38,0) bound: 3e6*D_g^2 <=
    12e6*N^4 caps N at ~7e7 rows (the mcc1 convention — rescale
    cents past that).

    Scale shape: ONE map-side-combinable (group, cents) groupBy is
    the only corpus pass (the iqr1 spine convention); the
    cross-group cumulative, per-value totals and tie marks ride
    windows over DISTINCT CENTS (value-domain-bounded; the global
    strictly-less cumulative is the documented mw1/lm1
    single-partition spine exception), then a k-row group aggregate
    and a 1-row final. No join anywhere."""
    v = (
        load(spark, sf_dir, "lineitem")
        .filter(
            F.col("l_returnflag").isNotNull()
            & F.col("l_extendedprice").isNotNull()
        )
        .select(
            F.col("l_returnflag").alias("g"),
            F.round(F.col("l_extendedprice") * 100).cast("long").alias("c"),
        )
    )
    spine = v.groupBy("g", "c").agg(F.count("*").cast("long").alias("cnt"))
    sp = spine.select(
        "g",
        "c",
        "cnt",
        F.coalesce(
            F.sum("cnt").over(
                Window.orderBy("c").rangeBetween(
                    Window.unboundedPreceding, -1
                )
            ),
            F.lit(0),
        ).alias("less"),
        F.sum("cnt").over(Window.partitionBy("c")).alias("tot_v"),
        F.row_number()
        .over(Window.partitionBy("c").orderBy("g"))
        .alias("rn"),
    )
    dec = "decimal(38,0)"
    grp = sp.groupBy("g").agg(
        F.sum("cnt").cast(dec).alias("n_g"),
        F.sum(
            F.col("cnt")
            * (2 * F.col("less") + F.col("tot_v") + 1)
        )
        .cast(dec)
        .alias("q2_g"),
        F.sum(
            F.when(
                F.col("rn") == 1,
                F.col("tot_v") * F.col("tot_v") * F.col("tot_v")
                - F.col("tot_v"),
            ).otherwise(F.lit(0))
        )
        .cast(dec)
        .alias("tiep"),
    )
    wall = Window.partitionBy()
    tot = grp.select(
        "g",
        "n_g",
        "q2_g",
        F.sum("n_g").over(wall).cast(dec).alias("n"),
        F.sum("tiep").over(wall).cast(dec).alias("tie"),
    )
    fin = tot.agg(
        F.max("n").alias("n"),
        F.max("tie").alias("tie"),
        F.count("*").cast("long").alias("k"),
        F.sum(
            F.expr(
                "(3000000 * (q2_g - n_g * (n + 1))"
                " * (q2_g - n_g * (n + 1)))"
                " div (n_g * n * (n + 1))"
            )
        )
        .cast(dec)
        .alias("hu"),
    )
    return fin.filter(F.col("k") > 0).select(
        F.col("n").cast("long").alias("n_rows"),
        F.col("k").alias("n_groups"),
        (F.col("k") - 1).cast("long").alias("df"),
        F.expr(
            "CASE WHEN n * n * n - n - tie > 0 THEN"
            " CAST((hu * (n * n * n - n))"
            " div (n * n * n - n - tie) AS BIGINT) END"
        ).alias("h_micro"),
        F.expr(
            f"CASE WHEN n * n * n - n - tie > 0"
            f" AND ({_KRUSKAL_CRIT_CASE}) IS NOT NULL THEN"
            f" (hu * (n * n * n - n)) div (n * n * n - n - tie)"
            f" > ({_KRUSKAL_CRIT_CASE}) END"
        ).alias("groups_differ"),
    )


# --------------------------------------------------------------------------
# dw1 — Durbin-Watson on the SES forecast residuals (round 13)
# --------------------------------------------------------------------------

#: rho1 shift: |sum e_t*e_{t-1}| <= sum e_t^2 by Cauchy-Schwarz, so a
#: 2e6 shift (vs the generic 1e12 _OFF) keeps the shifted numerator
#: non-negative while widening the overflow headroom to y ~ 1e9/day
_DW_SHIFT = 2_000_000

_DW1_SQL = f"""
WITH {_SES_FC_CTES},
err AS (
  SELECT event_type, t, f - 1000000 * y_t AS e FROM fc
),
lagd AS (
  SELECT event_type, e,
         lag(e) OVER (PARTITION BY event_type ORDER BY t) AS ep
  FROM err
),
s AS (
  SELECT event_type,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(e * e) AS HUGEINT) AS see,
         CAST(sum(CASE WHEN ep IS NOT NULL
                       THEN (e - ep) * (e - ep) ELSE 0 END)
              AS HUGEINT) AS sdd,
         CAST(sum(CASE WHEN ep IS NOT NULL THEN e * ep ELSE 0 END)
              AS HUGEINT) AS sxp
  FROM lagd GROUP BY 1
)
SELECT event_type,
       n AS n_scored,
       CASE WHEN n >= 2 AND see > 0 THEN
         CAST((1000000 * sdd) // see AS BIGINT) END AS dw_micro,
       CASE WHEN n >= 2 AND see > 0 THEN
         CAST((1000000 * sxp + {_DW_SHIFT} * see) // see
              - {_DW_SHIFT} AS BIGINT) END AS rho1_micro,
       CASE WHEN n >= 2 AND see > 0 THEN sdd < 2 * see
       END AS positive_autocorr
FROM s
"""


@query("dw1_durbin_watson", oracle=_DW1_SQL)
def dw1_durbin_watson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Durbin-Watson statistic (Durbin & Watson 1950) of the SES
    walk-forward forecast residuals, per event type — the residual
    INDEPENDENCE audit reg1's scorecard is missing: MAE/MSE/R^2 say
    how big the errors are, DW says whether they are serially
    correlated, i.e. whether the forecaster is leaving structure on
    the table (DW << 2 = positive autocorrelation = the model lags
    the series; alpha = 3/10 too small). Companion rho1 is the
    exact lag-1 residual autocorrelation (non-centered), the number
    DW approximates as 2*(1 - rho1).

    Exactness: residuals e_t = f_micro - 1e6*y_t are exact integers
    (the reg1 error convention); DW = sum(e_t - e_{{t-1}})^2 /
    sum e_t^2 exits as one integral micro division of exact
    DECIMAL(38,0) sums, rho1 as a shift-corrected one (|sxp| <= see
    by Cauchy-Schwarz, so a 2e6 shift suffices and the product
    2e6*see holds DECIMAL(38,0) to y ~ 1e9 events/day); the
    positive-autocorrelation decision is the exact integer compare
    sdd < 2*see (DW < 2), no critical-value table needed for the
    direction flag. Zero residual variance or n < 2 yields NULL.

    Scale shape: the ewma1/reg1 machinery — ONE corpus-sized (type,
    date) counting groupBy, the broadcast 35-row power fan-out, then
    a lag window and aggregate over the CALENDAR-BOUNDED residual
    frame (<= ~35 rows/type). The 100 TB cost is the daily count."""
    fc = _ses_forecast_frame(spark, sf_dir)
    dec = "decimal(38,0)"
    err = fc.select(
        "event_type",
        "t",
        (F.col("f_micro") - F.lit(1000000).cast(dec) * F.col("y_t"))
        .cast(dec)
        .alias("e"),
    )
    lagd = err.select(
        "event_type",
        "e",
        F.lag("e").over(
            Window.partitionBy("event_type").orderBy("t")
        ).alias("ep"),
    )
    s = lagd.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n"),
        F.sum(F.col("e") * F.col("e")).cast(dec).alias("see"),
        F.sum(
            F.when(
                F.col("ep").isNotNull(),
                (F.col("e") - F.col("ep")) * (F.col("e") - F.col("ep")),
            ).otherwise(F.lit(0))
        )
        .cast(dec)
        .alias("sdd"),
        F.sum(
            F.when(F.col("ep").isNotNull(), F.col("e") * F.col("ep"))
            .otherwise(F.lit(0))
        )
        .cast(dec)
        .alias("sxp"),
    )
    return s.select(
        "event_type",
        F.col("n").alias("n_scored"),
        F.expr(
            "CASE WHEN n >= 2 AND see > 0 THEN"
            " CAST((1000000 * sdd) div see AS BIGINT) END"
        ).alias("dw_micro"),
        F.expr(
            f"CASE WHEN n >= 2 AND see > 0 THEN"
            f" CAST((1000000 * sxp + {_DW_SHIFT} * see) div see"
            f" - {_DW_SHIFT} AS BIGINT) END"
        ).alias("rho1_micro"),
        F.expr(
            "CASE WHEN n >= 2 AND see > 0 THEN sdd < 2 * see END"
        ).alias("positive_autocorr"),
    )


# --------------------------------------------------------------------------
# runs1 — Wald-Wolfowitz runs test on residual signs (round 13)
# --------------------------------------------------------------------------

_RUNS_CRIT_MICRO = 3_841_459  # chi^2_{0.95, df=1} in micro

_RUNS1_SQL = f"""
WITH {_SES_FC_CTES},
sg AS (
  SELECT event_type, t,
         CASE WHEN f > 1000000 * y_t THEN 1 ELSE -1 END AS s
  FROM fc WHERE f <> 1000000 * y_t
),
lg AS (
  SELECT event_type, s,
         lag(s) OVER (PARTITION BY event_type ORDER BY t) AS sp
  FROM sg
),
agg AS (
  SELECT event_type,
         CAST(count(*) AS BIGINT) AS n,
         CAST(count(*) FILTER (s = 1) AS BIGINT) AS n_pos,
         CAST(count(*) FILTER (s = -1) AS BIGINT) AS n_neg,
         CAST(1 + count(*) FILTER (sp IS NOT NULL AND s <> sp)
              AS BIGINT) AS r
  FROM lg GROUP BY 1
)
SELECT event_type, n AS n_signed, n_pos, n_neg, r AS n_runs,
       CASE WHEN n_pos > 0 AND n_neg > 0 AND 2 * n_pos * n_neg > n THEN
         CAST((1000000 * (n * (r - 1) - 2 * n_pos * n_neg)
                        * (n * (r - 1) - 2 * n_pos * n_neg) * (n - 1))
              // (2 * n_pos * n_neg * (2 * n_pos * n_neg - n))
              AS BIGINT) END AS z2_micro,
       CASE WHEN n_pos > 0 AND n_neg > 0 AND 2 * n_pos * n_neg > n THEN
         1000000 * (n * (r - 1) - 2 * n_pos * n_neg)
                 * (n * (r - 1) - 2 * n_pos * n_neg) * (n - 1)
           > {_RUNS_CRIT_MICRO}
             * (2 * n_pos * n_neg * (2 * n_pos * n_neg - n))
       END AS nonrandom
FROM agg
"""


@query("runs1_wald_wolfowitz", oracle=_RUNS1_SQL)
def runs1_wald_wolfowitz(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald-Wolfowitz runs test (1940) on the SIGNS of the SES
    forecast residuals, per event type — the distribution-free
    randomness audit completing dw1's magnitude view: DW measures
    how strongly adjacent residuals co-move, the runs test decides
    whether the over/under-forecast PATTERN itself is non-random
    (too few runs = the forecast sits on one side for stretches —
    bias; too many = oscillation — overshoot). Zero residuals are
    dropped (the standard treatment); a type whose forecast is
    exact every day has no signed days and is absent by
    construction.

    Exactness: signs compare exact integers (f_micro vs 1e6*y), the
    run count is 1 + the number of sign changes off one lag window,
    and the normal-approximation z^2 = (R - E[R])^2 / Var[R] with
    E = 1 + 2*n1*n2/n, Var = 2*n1*n2*(2*n1*n2 - n)/(n^2*(n-1))
    clears ALL denominators by cross-multiplication: z^2 =
    (n*(R-1) - 2*n1*n2)^2 * (n-1) / (2*n1*n2*(2*n1*n2 - n)) — one
    integral micro division, and the alpha gate vs the frozen
    chi^2_1 critical is a pure integer compare. One-signed series
    or degenerate variance (2*n1*n2 <= n) yields NULL, never a
    fabricated decision. Magnitudes are calendar-bounded (n <= ~35)
    — no overflow concern.

    Scale shape: identical to dw1 — the daily counting groupBy is
    the only corpus-sized op; sign, lag, and census live on the
    calendar-bounded frame."""
    fc = _ses_forecast_frame(spark, sf_dir)
    dec = "decimal(38,0)"
    sg = fc.filter(
        F.col("f_micro") != F.lit(1000000).cast(dec) * F.col("y_t")
    ).select(
        "event_type",
        "t",
        F.when(
            F.col("f_micro") > F.lit(1000000).cast(dec) * F.col("y_t"),
            F.lit(1),
        )
        .otherwise(F.lit(-1))
        .alias("s"),
    )
    lg = sg.select(
        "event_type",
        "s",
        F.lag("s").over(
            Window.partitionBy("event_type").orderBy("t")
        ).alias("sp"),
    )
    agg = lg.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n"),
        F.count(F.when(F.col("s") == 1, 1)).cast("long").alias("n_pos"),
        F.count(F.when(F.col("s") == -1, 1)).cast("long").alias("n_neg"),
        (
            1
            + F.count(
                F.when(
                    F.col("sp").isNotNull() & (F.col("s") != F.col("sp")), 1
                )
            )
        )
        .cast("long")
        .alias("r"),
    )
    m = "(n * (r - 1) - 2 * n_pos * n_neg)"
    var = "(2 * n_pos * n_neg * (2 * n_pos * n_neg - n))"
    return agg.select(
        "event_type",
        F.col("n").alias("n_signed"),
        "n_pos",
        "n_neg",
        F.col("r").alias("n_runs"),
        F.expr(
            f"CASE WHEN n_pos > 0 AND n_neg > 0"
            f" AND 2 * n_pos * n_neg > n THEN"
            f" CAST((1000000 * {m} * {m} * (n - 1)) div {var}"
            f" AS BIGINT) END"
        ).alias("z2_micro"),
        F.expr(
            f"CASE WHEN n_pos > 0 AND n_neg > 0"
            f" AND 2 * n_pos * n_neg > n THEN"
            f" 1000000 * {m} * {m} * (n - 1)"
            f" > {_RUNS_CRIT_MICRO} * {var} END"
        ).alias("nonrandom"),
    )


# --------------------------------------------------------------------------
# dm1 — Diebold-Mariano test: SES forecast vs naive baseline (round 13)
# --------------------------------------------------------------------------

_DM_CRIT_MICRO = 3_841_459  # chi^2_{0.95, df=1} in micro

_DM1_SQL = f"""
WITH {_SES_FC_CTES},
ld AS (
  SELECT event_type, t, y_t, f,
         lag(y_t) OVER (PARTITION BY event_type ORDER BY t) AS y_prev
  FROM fc
),
d AS (
  SELECT event_type,
         abs(f - 1000000 * y_t)
           - abs(1000000 * y_prev - 1000000 * y_t) AS d
  FROM ld WHERE y_prev IS NOT NULL
),
s AS (
  SELECT event_type,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(d) AS HUGEINT) AS sd,
         CAST(sum(d * d) AS HUGEINT) AS sd2
  FROM d GROUP BY 1
)
SELECT event_type,
       n AS n_scored,
       CAST(sd // n AS BIGINT) AS mean_gap_micro,
       CASE WHEN n >= 2 AND n * sd2 - sd * sd > 0 THEN
         CAST((1000000 * (n - 1) * sd * sd) // (n * sd2 - sd * sd)
              AS BIGINT) END AS t2_micro,
       CASE WHEN n >= 2 AND n * sd2 - sd * sd > 0 THEN
         sd < 0 AND 1000000 * (n - 1) * sd * sd
                      > {_DM_CRIT_MICRO} * (n * sd2 - sd * sd)
       END AS ses_beats_naive
FROM s
"""


@query("dm1_diebold_mariano", oracle=_DM1_SQL)
def dm1_diebold_mariano(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diebold-Mariano test (Diebold & Mariano 1995, lag-0 variance)
    between the SES walk-forward forecast and the NAIVE baseline
    (tomorrow = today) on absolute-error loss, per event type — the
    go/no-go reg1's absolute scorecard cannot give: MAE says how big
    the SES errors are, dm1 decides whether they are SIGNIFICANTLY
    smaller than the zero-cost baseline's (if not, don't ship the
    forecaster — ts4's MASE intuition turned into a test). Scored on
    days t >= 2 where both forecasts exist, the same days for both
    arms (paired by construction).

    Exactness: both losses are exact integer micro units
    (|f_micro - 1e6*y_t| vs 1e6*|y_{{t-1}} - y_t|), so the loss
    differential d_t is an exact integer; the large-sample DM
    statistic t^2 = (n-1)*(sum d)^2 / (n*sum d^2 - (sum d)^2) clears
    every denominator by cross-multiplication, exits as one integral
    micro division, and gates vs the frozen chi^2_1 critical with
    the direction pinned (sd < 0 = SES losses smaller). Zero
    differential variance yields NULL, never a fabricated decision.
    DECIMAL(38,0): 1e6*n*(sum d)^2 <= 1e18*n^3*y^2 caps y at ~2e6
    events/day on a 35-day spine (the reg1 convention).

    Scale shape: dw1's exactly — the daily counting groupBy is the
    only corpus-sized op; the naive arm is one lag window over the
    calendar-bounded forecast frame."""
    fc = _ses_forecast_frame(spark, sf_dir)
    dec = "decimal(38,0)"
    ld = fc.select(
        "event_type",
        "t",
        "y_t",
        "f_micro",
        F.lag("y_t").over(
            Window.partitionBy("event_type").orderBy("t")
        ).alias("y_prev"),
    )
    mil = F.lit(1000000).cast(dec)
    d = ld.filter(F.col("y_prev").isNotNull()).select(
        "event_type",
        (
            F.abs(F.col("f_micro") - mil * F.col("y_t"))
            - F.abs(mil * F.col("y_prev") - mil * F.col("y_t"))
        )
        .cast(dec)
        .alias("d"),
    )
    s = d.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("d").cast(dec).alias("sd"),
        F.sum(F.col("d") * F.col("d")).cast(dec).alias("sd2"),
    )
    return s.select(
        "event_type",
        F.col("n").alias("n_scored"),
        F.expr("CAST(sd div n AS BIGINT)").alias("mean_gap_micro"),
        F.expr(
            "CASE WHEN n >= 2 AND n * sd2 - sd * sd > 0 THEN"
            " CAST((1000000 * (n - 1) * sd * sd)"
            " div (n * sd2 - sd * sd) AS BIGINT) END"
        ).alias("t2_micro"),
        F.expr(
            f"CASE WHEN n >= 2 AND n * sd2 - sd * sd > 0 THEN"
            f" sd < 0 AND 1000000 * (n - 1) * sd * sd"
            f" > {_DM_CRIT_MICRO} * (n * sd2 - sd * sd) END"
        ).alias("ses_beats_naive"),
    )


# --------------------------------------------------------------------------
# cmh1 — Cochran-Mantel-Haenszel stratified association (round 13)
# --------------------------------------------------------------------------

_CMH_CRIT_MICRO = 3_841_459  # chi^2_{0.95, df=1} in micro

_CMH1_SQL = f"""
WITH scored AS (
  SELECT source,
         CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS tr,
         CASE WHEN 50 * CAST(len(regexp_extract_all(lower(text),
                            '\\b(the|a|of|to|and)\\b')) AS BIGINT)
                > CAST(len(regexp_extract_all(text, '\\S+')) AS BIGINT)
              THEN 1 ELSE 0 END AS pr
  FROM documents
  WHERE lang IS NOT NULL AND text IS NOT NULL AND source IS NOT NULL
),
st AS (
  SELECT source,
         CAST(count(*) AS HUGEINT) AS n,
         CAST(sum(tr) AS HUGEINT) AS r1,
         CAST(sum(pr) AS HUGEINT) AS c1,
         CAST(sum(tr * pr) AS HUGEINT) AS a
  FROM scored GROUP BY 1
),
terms AS (
  SELECT CAST(count(*) AS BIGINT) AS n_strata,
         CAST(sum(n) AS BIGINT) AS n_docs,
         CAST(sum(1000000 * a - (1000000 * r1 * c1) // n) AS HUGEINT)
           AS s_micro,
         CAST(sum(CASE WHEN n >= 2 THEN
                    (1000000 * r1 * (n - r1) * c1 * (n - c1))
                      // (n * n * (n - 1))
                  ELSE 0 END) AS HUGEINT) AS v_micro
  FROM st
)
SELECT n_strata, n_docs,
       CAST(s_micro AS BIGINT) AS s_micro,
       CAST(v_micro AS BIGINT) AS v_micro,
       CASE WHEN v_micro > 0 THEN
         CAST((greatest(abs(s_micro) - 500000, 0)
               * greatest(abs(s_micro) - 500000, 0)) // v_micro
              AS BIGINT) END AS cmh_micro,
       CASE WHEN v_micro > 0 THEN
         greatest(abs(s_micro) - 500000, 0)
           * greatest(abs(s_micro) - 500000, 0)
           > {_CMH_CRIT_MICRO} * v_micro END AS rule_tracks_truth
FROM terms
"""


@query("cmh1_mantel_haenszel", oracle=_CMH1_SQL)
def cmh1_mantel_haenszel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran-Mantel-Haenszel test (Mantel & Haenszel 1959,
    continuity-corrected) of the association between TRUE English
    and the cls1 stopword rule's prediction, STRATIFIED BY SOURCE —
    the confounding-adjusted decision the pooled 2x2 cannot give:
    sources differ in both language mix and prose style, so a pooled
    association can be pure Simpson's-paradox artifact; CMH asks
    whether the rule tracks truth WITHIN sources, pooled across
    them. The stratified sibling of mcn1 (paired rules) and kappa1
    (pooled agreement), closing the eval harness' confounding
    column.

    Exactness: per-stratum margins (n, r1, c1, a) are exact integers
    off ONE (source) groupBy; each stratum's expected count
    E = r1*c1/n and variance V = r1*(n-r1)*c1*(n-c1)/(n^2*(n-1))
    are quantized to micro by integral division (identical floors in
    both engines; single-doc strata contribute a - E = 0 exactly and
    V = 0, so the n >= 2 filter on V loses nothing); the continuity
    correction subtracts the exact half 500000 micro, clamped at 0
    (the mcn1 Edwards clamp), and the statistic exits as one
    integral division of micro^2 by micro. Zero pooled variance
    (every stratum degenerate) yields NULL. DECIMAL(38,0): the V
    numerator 1e6*n^4/16 caps strata at ~1e8 docs each (the mcc1
    convention).

    Scale shape: mcn1's exactly — ONE map-side-combinable (source)
    groupBy over a per-row projection, then a 1-row final. No join,
    no window, one corpus pass."""
    txt = F.col("text")
    hits = F.size(
        F.regexp_extract_all(
            F.lower(txt), F.lit(r"\b(the|a|of|to|and)\b"), 0
        )
    ).cast("long")
    toks = F.size(F.regexp_extract_all(txt, F.lit(r"\S+"), 0)).cast("long")
    scored = (
        load(spark, sf_dir, "documents")
        .filter(
            F.col("lang").isNotNull()
            & txt.isNotNull()
            & F.col("source").isNotNull()
        )
        .select(
            "source",
            F.when(F.col("lang") == "en", 1).otherwise(0).alias("tr"),
            F.when(50 * hits > toks, 1).otherwise(0).alias("pr"),
        )
    )
    dec = "decimal(38,0)"
    st = scored.groupBy("source").agg(
        F.count("*").cast(dec).alias("n"),
        F.sum("tr").cast(dec).alias("r1"),
        F.sum("pr").cast(dec).alias("c1"),
        F.sum(F.col("tr") * F.col("pr")).cast(dec).alias("a"),
    )
    terms = st.agg(
        F.count("*").cast("long").alias("n_strata"),
        F.sum("n").cast("long").alias("n_docs"),
        F.sum(
            F.expr("1000000 * a - (1000000 * r1 * c1) div n")
        )
        .cast(dec)
        .alias("s_micro"),
        F.sum(
            F.expr(
                "CASE WHEN n >= 2 THEN"
                " (1000000 * r1 * (n - r1) * c1 * (n - c1))"
                " div (n * n * (n - 1)) ELSE 0 END"
            )
        )
        .cast(dec)
        .alias("v_micro"),
    )
    m = "greatest(abs(s_micro) - 500000, 0)"
    return terms.select(
        "n_strata",
        "n_docs",
        F.col("s_micro").cast("long").alias("s_micro"),
        F.col("v_micro").cast("long").alias("v_micro"),
        F.expr(
            f"CASE WHEN v_micro > 0 THEN"
            f" CAST(({m} * {m}) div v_micro AS BIGINT) END"
        ).alias("cmh_micro"),
        F.expr(
            f"CASE WHEN v_micro > 0 THEN"
            f" {m} * {m} > {_CMH_CRIT_MICRO} * v_micro END"
        ).alias("rule_tracks_truth"),
    )


# --------------------------------------------------------------------------
# sen1 — Theil-Sen slope of daily traffic (round 13)
# --------------------------------------------------------------------------

_SEN1_SQL = f"""
WITH d AS (
  SELECT event_type,
         CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))
              AS BIGINT) AS day
  FROM events WHERE ts IS NOT NULL AND event_type IS NOT NULL
),
daily AS (
  SELECT event_type, day, CAST(count(*) AS BIGINT) AS y
  FROM d GROUP BY 1, 2
),
pairs AS (
  SELECT a.event_type,
         b.y - a.y AS dy,
         b.day - a.day AS dx
  FROM daily a JOIN daily b
    ON b.event_type = a.event_type AND b.day > a.day
),
ranked AS (
  SELECT event_type, dy, dx,
         CAST(row_number() OVER (
           PARTITION BY event_type
           ORDER BY CAST(dy AS DOUBLE) / CAST(dx AS DOUBLE),
                    dy, dx) AS BIGINT) AS rk,
         CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS m
  FROM pairs
)
SELECT event_type,
       m AS n_pairs,
       CAST((1000000 * dy + {_OFF} * dx) // dx - {_OFF} AS BIGINT)
         AS sen_slope_micro
FROM ranked WHERE rk = (m + 1) // 2
"""


@query("sen1_theil_sen_slope", oracle=_SEN1_SQL)
def sen1_theil_sen_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen slope estimator (Theil 1950, Sen 1968) of daily
    traffic per event type — the MAGNITUDE companion mk1's
    Mann-Kendall trend test is missing: mk1 decides WHETHER traffic
    trends, sen1 says by HOW MUCH per day, robust to ~29% arbitrary
    outliers (vs g13's least-squares slope, which one bad ingestion
    day drags). The number capacity planning actually consumes.

    Exactness: pairwise slopes are exact rationals dy/dx over the
    OBSERVED-day pairs (days with zero events contribute no pair —
    the standard treatment on irregular series); the median pair is
    selected at rank (m+1)//2 under the IEEE-double slope order
    (identical bits in both engines on identical integer inputs)
    with a full (dy, dx) tiebreak, and the selected slope exits as
    the OFF-shifted integral micro division of ITS exact integers —
    so the output is an exact quantization of a real pair's slope,
    not a float average. Lower median by convention (no half-pair
    interpolation).

    Scale shape: the daily counting groupBy is the only corpus-sized
    op; the pair self-join and rank window live on the
    CALENDAR-BOUNDED daily frame (<= ~35 rows/type -> <= ~600
    pairs/type), the dw1/reg1 convention. The pair count is
    quadratic in SPINE DAYS, never in rows."""
    ev = load(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull() & F.col("event_type").isNotNull()
    )
    daily = ev.groupBy(
        "event_type",
        F.datediff(F.to_date("ts"), F.lit("1970-01-01").cast("date"))
        .cast("long")
        .alias("day"),
    ).agg(F.count("*").cast("long").alias("y"))
    a = daily.select(
        F.col("event_type").alias("et"),
        F.col("day").alias("day_a"),
        F.col("y").alias("y_a"),
    )
    pairs = daily.join(
        a,
        (F.col("event_type") == F.col("et"))
        & (F.col("day") > F.col("day_a")),
    ).select(
        "event_type",
        (F.col("y") - F.col("y_a")).alias("dy"),
        (F.col("day") - F.col("day_a")).alias("dx"),
    )
    byt = Window.partitionBy("event_type")
    ranked = pairs.select(
        "event_type",
        "dy",
        "dx",
        F.row_number()
        .over(
            byt.orderBy(
                F.col("dy").cast("double") / F.col("dx").cast("double"),
                "dy",
                "dx",
            )
        )
        .alias("rk"),
        F.count("*").over(byt).cast("long").alias("m"),
    )
    return ranked.filter(F.expr("rk = (m + 1) div 2")).select(
        "event_type",
        F.col("m").alias("n_pairs"),
        F.expr(
            f"CAST((1000000 * dy + {_OFF} * dx) div dx - {_OFF}"
            " AS BIGINT)"
        ).alias("sen_slope_micro"),
    )


# --------------------------------------------------------------------------
# lb1 — Ljung-Box portmanteau test on the SES residuals (round 13)
# --------------------------------------------------------------------------

_LB_MAX_LAG = 7

#: chi^2_{0.95, df} micro literals, df = 1..7 (gof1 spine + df=7)
_LB_CRIT_CASE = (
    "CASE df WHEN 1 THEN 3841459 WHEN 2 THEN 5991465"
    " WHEN 3 THEN 7814728 WHEN 4 THEN 9487729"
    " WHEN 5 THEN 11070498 WHEN 6 THEN 12591587"
    " WHEN 7 THEN 14067140 END"
)

_LB_SHIFT = 2_000_000  # |num_k| <= den by Cauchy-Schwarz

#: per-lag shifted integral micro autocorrelation off the lag columns
_LB_RK = (
    "CASE WHEN den > 0 AND n > {k} THEN"
    " (1000000 * num{k} + " + str(_LB_SHIFT) + " * den) // den"
    " - " + str(_LB_SHIFT) + " END"
)

_LB_NUM_SQL = ",\n         ".join(
    f"CAST(sum(CASE WHEN lk{k} IS NOT NULL"
    f" THEN (n * e - s) * (n * lk{k} - s) ELSE 0 END) AS HUGEINT)"
    f" AS num{k}"
    for k in range(1, _LB_MAX_LAG + 1)
)

_LB_RK_SQL = ",\n       ".join(
    _LB_RK.format(k=k) + f" AS rk{k}" for k in range(1, _LB_MAX_LAG + 1)
)

_LB_TERMS_SQL = "\n         + ".join(
    f"CASE WHEN n > {k} THEN (n * (n + 2) * rk{k} * rk{k})"
    f" // ((n - {k}) * 1000000) ELSE 0 END"
    for k in range(1, _LB_MAX_LAG + 1)
)

_LB_LAGS_SQL = ",\n         ".join(
    f"lag(e, {k}) OVER (PARTITION BY event_type ORDER BY t) AS lk{k}"
    for k in range(1, _LB_MAX_LAG + 1)
)

_LB1_SQL = f"""
WITH {_SES_FC_CTES},
err AS (
  SELECT event_type, t, f - 1000000 * y_t AS e FROM fc
),
ew1 AS (
  SELECT event_type, t, e,
         CAST(count(*) OVER (PARTITION BY event_type) AS HUGEINT) AS n,
         CAST(sum(e) OVER (PARTITION BY event_type) AS HUGEINT) AS s,
         {_LB_LAGS_SQL}
  FROM err
),
ew AS (
  SELECT *, CAST(sum((n * e - s) * (n * e - s))
                 OVER (PARTITION BY event_type) AS HUGEINT) AS den
  FROM ew1
),
agg AS (
  SELECT event_type,
         CAST(any_value(n) AS HUGEINT) AS n,
         CAST(any_value(den) AS HUGEINT) AS den,
         {_LB_NUM_SQL}
  FROM ew GROUP BY 1
),
rk AS (
  SELECT event_type, n, den,
       {_LB_RK_SQL}
  FROM agg
)
SELECT event_type,
       CAST(n AS BIGINT) AS n_days,
       CAST(least(n - 1, {_LB_MAX_LAG}) AS BIGINT) AS df,
       CASE WHEN den > 0 AND n >= 2 THEN
         CAST({_LB_TERMS_SQL} AS BIGINT) END AS q_micro,
       CASE WHEN den > 0 AND n >= 2
             AND ({_LB_CRIT_CASE.replace("CASE df", "CASE least(n - 1, " + str(_LB_MAX_LAG) + ")")}) IS NOT NULL THEN
         CAST({_LB_TERMS_SQL} AS BIGINT)
           > ({_LB_CRIT_CASE.replace("CASE df", "CASE least(n - 1, " + str(_LB_MAX_LAG) + ")")})
       END AS autocorrelated
FROM rk
"""


@query("lb1_ljung_box", oracle=_LB1_SQL)
def lb1_ljung_box(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ljung-Box portmanteau test (Ljung & Box 1978) over lags
    1..{max_lag} of the SES walk-forward forecast residuals, per
    event type — the MULTI-LAG whiteness decision completing the
    residual-diagnostics suite: dw1 sees only lag 1, runs1 only the
    sign pattern; lb1 pools a week of residual autocorrelation into
    one chi-square decision (the standard post-fit adequacy gate for
    any forecaster — a weekly seasonal leftover lives at lag 7 and
    only this test sees it).

    Exactness: mean-corrected autocovariances clear the /n by
    scaling to (n*e_t - S), so num_k and den are exact DECIMAL(38,0)
    sums (the acf1 convention on residuals instead of counts); each
    r_k exits as a shift-corrected integral micro division (|num_k|
    <= den by Cauchy-Schwarz, so the 2e6 shift suffices); the
    per-lag Ljung-Box terms n*(n+2)*r_k^2/(n-k) are quantized by a
    second integral division (identical floors both engines,
    property-tested envelope in tests/test_nonparam_math.py), summed
    into Q over the lags with a pair set (the residual frame is
    DENSE in t, so df = min({max_lag}, n-1) in closed form); the
    gate compares Q against the frozen chi^2_df CASE spine. Zero
    residual variance or n < 2 yields NULL Q and NULL decision.

    Scale shape: the dw1/reg1 machinery — the daily counting groupBy
    is the only corpus-sized op; ALL {max_lag} lags are columns of
    ONE ordered window over the calendar-bounded residual frame
    (sharing the type-hash exchange with the wall totals — no
    self-join, no lag literal fan-out; the r13 first cut self-joined
    the frame and doubled the corpus scans, caught by the plan
    gate), and the per-type aggregate carries all {max_lag}
    numerators in one pass."""
    fc = _ses_forecast_frame(spark, sf_dir)
    dec = "decimal(38,0)"
    err = fc.select(
        "event_type",
        "t",
        (F.col("f_micro") - F.lit(1000000).cast(dec) * F.col("y_t"))
        .cast(dec)
        .alias("e"),
    )
    byt = Window.partitionBy("event_type")
    ordw = byt.orderBy("t")
    ew1 = err.select(
        "event_type",
        "t",
        "e",
        F.count("*").over(byt).cast(dec).alias("n"),
        F.sum("e").over(byt).cast(dec).alias("s"),
        *[
            F.lag("e", k).over(ordw).alias(f"lk{k}")
            for k in range(1, _LB_MAX_LAG + 1)
        ],
    )
    ew = ew1.withColumn(
        "den",
        F.sum(
            (F.col("n") * F.col("e") - F.col("s"))
            * (F.col("n") * F.col("e") - F.col("s"))
        )
        .over(byt)
        .cast(dec),
    )
    agg = ew.groupBy("event_type").agg(
        F.max("n").alias("n"),
        F.max("den").alias("den"),
        *[
            F.sum(
                F.when(
                    F.col(f"lk{k}").isNotNull(),
                    (F.col("n") * F.col("e") - F.col("s"))
                    * (F.col("n") * F.col(f"lk{k}") - F.col("s")),
                ).otherwise(F.lit(0))
            )
            .cast(dec)
            .alias(f"num{k}")
            for k in range(1, _LB_MAX_LAG + 1)
        ],
    )
    rk = agg.select(
        "event_type",
        "n",
        "den",
        *[
            F.expr(_LB_RK.format(k=k).replace("//", "div")).alias(f"rk{k}")
            for k in range(1, _LB_MAX_LAG + 1)
        ],
    )
    terms = _LB_TERMS_SQL.replace("//", "div")
    crit = _LB_CRIT_CASE.replace(
        "CASE df", f"CASE least(n - 1, {_LB_MAX_LAG})"
    )
    return rk.select(
        "event_type",
        F.col("n").cast("long").alias("n_days"),
        F.expr(f"CAST(least(n - 1, {_LB_MAX_LAG}) AS BIGINT)").alias("df"),
        F.expr(
            f"CASE WHEN den > 0 AND n >= 2 THEN"
            f" CAST({terms} AS BIGINT) END"
        ).alias("q_micro"),
        F.expr(
            f"CASE WHEN den > 0 AND n >= 2 AND ({crit}) IS NOT NULL THEN"
            f" CAST({terms} AS BIGINT) > ({crit}) END"
        ).alias("autocorrelated"),
    )


lb1_ljung_box.__doc__ = lb1_ljung_box.__doc__.format(max_lag=_LB_MAX_LAG)


# --------------------------------------------------------------------------
# pettitt1 — Pettitt change-point test on daily traffic (round 13)
# --------------------------------------------------------------------------

#: ln(2/0.05) = ln(40) at 6dp, frozen (the llr1 micro-nat pin): the
#: Pettitt approximation p = 2*exp(-6K^2/(D^3+D^2)) crosses 0.05
#: exactly when 6K^2 >= ln(40)*(D^3+D^2)
_PETTITT_LN40_MICRO = 3_688_879

_PETTITT1_SQL = f"""
WITH d AS (
  SELECT event_type, CAST(ts AS DATE) AS d
  FROM events WHERE ts IS NOT NULL AND event_type IS NOT NULL
),
daily AS (
  SELECT event_type, d, CAST(count(*) AS BIGINT) AS y
  FROM d GROUP BY 1, 2
),
bounds AS (
  SELECT event_type, min(d) AS d0, max(d) AS d1 FROM daily GROUP BY 1
),
spine AS (
  SELECT b.event_type, CAST(u.g AS DATE) AS d,
         CAST(date_diff('day', b.d0, CAST(u.g AS DATE)) AS BIGINT) AS r
  FROM bounds b, UNNEST(generate_series(CAST(b.d0 AS TIMESTAMP),
                                        CAST(b.d1 AS TIMESTAMP),
                                        INTERVAL 1 DAY)) u(g)
),
dense AS (
  SELECT s.event_type, s.r, COALESCE(dy.y, 0) AS y
  FROM spine s LEFT JOIN daily dy USING (event_type, d)
),
v AS (
  SELECT a.event_type, a.r,
         CAST(sum(CASE WHEN a.y > b.y THEN 1
                       WHEN a.y < b.y THEN -1 ELSE 0 END) AS BIGINT) AS vt,
         CAST(any_value(dd.nd) AS BIGINT) AS nd
  FROM dense a
  JOIN dense b ON b.event_type = a.event_type AND b.r <> a.r
  JOIN (SELECT event_type, count(*) AS nd FROM dense GROUP BY 1) dd
    ON dd.event_type = a.event_type
  GROUP BY 1, 2
),
u AS (
  SELECT event_type, r, nd,
         CAST(sum(vt) OVER (PARTITION BY event_type ORDER BY r
                            ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND CURRENT ROW) AS BIGINT) AS ut
  FROM v
),
k AS (
  SELECT event_type, r, nd, abs(ut) AS au, ut,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY abs(ut) DESC, r) AS rn
  FROM u WHERE r < nd - 1
)
SELECT event_type,
       nd AS n_days,
       au AS k_stat,
       r AS change_day_offset,
       CAST((6000000 * au * au) // (nd * nd * nd + nd * nd) AS BIGINT)
         AS lambda_micro,
       6000000 * au * au
         > {_PETTITT_LN40_MICRO} * (nd * nd * nd + nd * nd)
         AS level_shift
FROM k WHERE rn = 1
"""


@query("pettitt1_change_point", oracle=_PETTITT1_SQL)
def pettitt1_change_point(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pettitt change-point test (Pettitt 1979) on each event type's
    gap-filled daily count series — the nonparametric LEVEL-SHIFT
    decision the monitoring family is missing: cpd1's CUSUM flags a
    drift point but carries no significance, mk1 decides a MONOTONE
    trend; Pettitt decides an abrupt shift (and locates its day)
    robust to the count distribution, via the max over split points
    of the Mann-Whitney-style statistic U_t = sum_{{i<=t,j>t}}
    sign(y_i - y_j).

    Exactness: signs compare exact integer counts on the dense
    calendar spine (gap days are real zeros — the acf1/sea1
    convention); V_t = sum_{{j != t}} sign(y_t - y_j) comes off the
    bounded pair join, U_t is its running sum (the Pettitt
    recursion, exact), K = max|U_t| with the earliest-day tiebreak.
    The classic approximation p = 2*exp(-6K^2/(D^3+D^2)) crosses
    alpha = 0.05 exactly when 6K^2 >= ln(40)*(D^3+D^2), so the gate
    is a cross-multiplied integer compare against the frozen 6dp
    micro-nat literal (the llr1 pin) — no exp is ever evaluated;
    lambda_micro = 6K^2/(D^3+D^2) quantized is reported for the
    reader. Single-day series have no split point and are absent by
    construction.

    Scale shape: the daily counting groupBy is the only corpus-sized
    op; the sign pair join, running sum, and argmax live on the
    CALENDAR-BOUNDED spine (<= ~35 rows/type -> <= ~1200 sign pairs,
    the sen1 convention — quadratic in SPINE DAYS, never rows)."""
    ev = load(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull() & F.col("event_type").isNotNull()
    )
    daily = ev.groupBy("event_type", F.to_date("ts").alias("d")).agg(
        F.count("*").cast("long").alias("y")
    )
    bounds = daily.groupBy("event_type").agg(
        F.min("d").alias("d0"), F.max("d").alias("d1")
    )
    spine = bounds.select(
        "event_type",
        F.explode(F.sequence("d0", "d1")).alias("d"),
        "d0",
    ).select(
        "event_type", "d", F.datediff("d", "d0").cast("long").alias("r")
    )
    dense = spine.join(daily, ["event_type", "d"], "left").select(
        "event_type", "r", F.coalesce(F.col("y"), F.lit(0)).alias("y")
    )
    byt = Window.partitionBy("event_type")
    dw = dense.select(
        "event_type", "r", "y", F.count("*").over(byt).cast("long").alias("nd")
    )
    b = dense.select(
        F.col("event_type").alias("bet"),
        F.col("r").alias("br"),
        F.col("y").alias("by"),
    )
    v = (
        dw.join(
            b,
            (F.col("bet") == F.col("event_type"))
            & (F.col("br") != F.col("r")),
        )
        .groupBy("event_type", "r")
        .agg(
            F.sum(
                F.when(F.col("y") > F.col("by"), 1)
                .when(F.col("y") < F.col("by"), -1)
                .otherwise(0)
            )
            .cast("long")
            .alias("vt"),
            F.max("nd").alias("nd"),
        )
    )
    u = v.select(
        "event_type",
        "r",
        "nd",
        F.sum("vt")
        .over(
            byt.orderBy("r").rowsBetween(Window.unboundedPreceding, 0)
        )
        .cast("long")
        .alias("ut"),
    )
    k = (
        u.filter(F.col("r") < F.col("nd") - 1)
        .select(
            "event_type",
            "r",
            "nd",
            F.abs(F.col("ut")).alias("au"),
            F.row_number()
            .over(byt.orderBy(F.abs(F.col("ut")).desc(), "r"))
            .alias("rn"),
        )
        .filter(F.col("rn") == 1)
    )
    return k.select(
        "event_type",
        F.col("nd").alias("n_days"),
        F.col("au").alias("k_stat"),
        F.col("r").alias("change_day_offset"),
        F.expr(
            "CAST((6000000 * au * au)"
            " div (nd * nd * nd + nd * nd) AS BIGINT)"
        ).alias("lambda_micro"),
        F.expr(
            f"6000000 * au * au"
            f" > {_PETTITT_LN40_MICRO} * (nd * nd * nd + nd * nd)"
        ).alias("level_shift"),
    )


# --------------------------------------------------------------------------
# mhor1 — Mantel-Haenszel common odds ratio (round 13)
# --------------------------------------------------------------------------

_MHOR1_SQL = """
WITH scored AS (
  SELECT source,
         CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS tr,
         CASE WHEN 50 * CAST(len(regexp_extract_all(lower(text),
                            '\\b(the|a|of|to|and)\\b')) AS BIGINT)
                > CAST(len(regexp_extract_all(text, '\\S+')) AS BIGINT)
              THEN 1 ELSE 0 END AS pr
  FROM documents
  WHERE lang IS NOT NULL AND text IS NOT NULL AND source IS NOT NULL
),
st AS (
  SELECT source,
         CAST(count(*) AS HUGEINT) AS n,
         CAST(count(*) FILTER (tr = 1 AND pr = 1) AS HUGEINT) AS a,
         CAST(count(*) FILTER (tr = 1 AND pr = 0) AS HUGEINT) AS b,
         CAST(count(*) FILTER (tr = 0 AND pr = 1) AS HUGEINT) AS c,
         CAST(count(*) FILTER (tr = 0 AND pr = 0) AS HUGEINT) AS d
  FROM scored GROUP BY 1
),
s AS (
  SELECT CAST(count(*) AS BIGINT) AS n_strata,
         CAST(sum((1000000 * a * d) // n) AS HUGEINT) AS r_micro,
         CAST(sum((1000000 * b * c) // n) AS HUGEINT) AS s_micro,
         CAST(sum(a) AS HUGEINT) AS ta, CAST(sum(b) AS HUGEINT) AS tb,
         CAST(sum(c) AS HUGEINT) AS tc, CAST(sum(d) AS HUGEINT) AS td
  FROM st
)
SELECT n_strata,
       CAST(r_micro AS BIGINT) AS r_micro,
       CAST(s_micro AS BIGINT) AS s_micro,
       CASE WHEN s_micro > 0 THEN
         CAST((1000000 * r_micro) // s_micro AS BIGINT)
       END AS or_mh_micro,
       CASE WHEN tb * tc > 0 THEN
         CAST((1000000 * ta * td) // (tb * tc) AS BIGINT)
       END AS or_crude_micro,
       CASE WHEN s_micro > 0 AND tb * tc > 0 THEN
         CAST((1000000 * r_micro) // s_micro
              - (1000000 * ta * td) // (tb * tc) AS BIGINT)
       END AS confounding_gap_micro
FROM s
"""


@query("mhor1_mh_common_or", oracle=_MHOR1_SQL)
def mhor1_mh_common_or(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mantel-Haenszel common odds ratio (Mantel & Haenszel 1959) of
    the true-English x cls1-rule association, stratified by source —
    the EFFECT SIZE cmh1's significance test is missing (the
    cliffs1/mw1 pairing applied to the stratified 2x2 family), plus
    the CRUDE pooled odds ratio and their gap: when OR_MH and the
    crude OR disagree, the pooled table is Simpson-confounded by
    source composition, and the gap is the size of the artifact —
    the number that tells a curation team whether per-source
    analysis is mandatory or cosmetic.

    Exactness: per-stratum cells are exact integers off ONE (source)
    groupBy; the MH estimator sum(a*d/n)/sum(b*c/n) quantizes each
    stratum term by integral micro division (identical floors both
    engines — the cmh1 convention) and exits as one more; the crude
    OR is one integral division of exact pooled products. Zero
    discordant mass (sum b*c/n = 0, or pooled B*C = 0) yields NULL,
    never an infinite ratio. DECIMAL(38,0): 1e6*a*d <= 1e6*n^2/4
    caps strata at ~6e15 docs — no realistic bound; the crude
    product 1e12*A*D caps the corpus at ~1e13.

    Scale shape: mcn1/cmh1's exactly — ONE map-side-combinable
    (source) groupBy over a per-row projection, then a 1-row final.
    No join, no window, one corpus pass."""
    txt = F.col("text")
    hits = F.size(
        F.regexp_extract_all(
            F.lower(txt), F.lit(r"\b(the|a|of|to|and)\b"), 0
        )
    ).cast("long")
    toks = F.size(F.regexp_extract_all(txt, F.lit(r"\S+"), 0)).cast("long")
    scored = (
        load(spark, sf_dir, "documents")
        .filter(
            F.col("lang").isNotNull()
            & txt.isNotNull()
            & F.col("source").isNotNull()
        )
        .select(
            "source",
            F.when(F.col("lang") == "en", 1).otherwise(0).alias("tr"),
            F.when(50 * hits > toks, 1).otherwise(0).alias("pr"),
        )
    )
    dec = "decimal(38,0)"
    st = scored.groupBy("source").agg(
        F.count("*").cast(dec).alias("n"),
        F.count(F.when((F.col("tr") == 1) & (F.col("pr") == 1), 1))
        .cast(dec)
        .alias("a"),
        F.count(F.when((F.col("tr") == 1) & (F.col("pr") == 0), 1))
        .cast(dec)
        .alias("b"),
        F.count(F.when((F.col("tr") == 0) & (F.col("pr") == 1), 1))
        .cast(dec)
        .alias("c"),
        F.count(F.when((F.col("tr") == 0) & (F.col("pr") == 0), 1))
        .cast(dec)
        .alias("d"),
    )
    s = st.agg(
        F.count("*").cast("long").alias("n_strata"),
        F.sum(F.expr("(1000000 * a * d) div n")).cast(dec).alias("r_micro"),
        F.sum(F.expr("(1000000 * b * c) div n")).cast(dec).alias("s_micro"),
        F.sum("a").cast(dec).alias("ta"),
        F.sum("b").cast(dec).alias("tb"),
        F.sum("c").cast(dec).alias("tc"),
        F.sum("d").cast(dec).alias("td"),
    )
    return s.select(
        "n_strata",
        F.col("r_micro").cast("long").alias("r_micro"),
        F.col("s_micro").cast("long").alias("s_micro"),
        F.expr(
            "CASE WHEN s_micro > 0 THEN"
            " CAST((1000000 * r_micro) div s_micro AS BIGINT) END"
        ).alias("or_mh_micro"),
        F.expr(
            "CASE WHEN tb * tc > 0 THEN"
            " CAST((1000000 * ta * td) div (tb * tc) AS BIGINT) END"
        ).alias("or_crude_micro"),
        F.expr(
            "CASE WHEN s_micro > 0 AND tb * tc > 0 THEN"
            " CAST((1000000 * r_micro) div s_micro"
            " - (1000000 * ta * td) div (tb * tc) AS BIGINT) END"
        ).alias("confounding_gap_micro"),
    )


# --------------------------------------------------------------------------
# di1 — disparate-impact (4/5ths rule) audit of the cls1 rule (round 13)
# --------------------------------------------------------------------------

_DI1_SQL = """
WITH scored AS (
  SELECT source,
         CASE WHEN 50 * CAST(len(regexp_extract_all(lower(text),
                            '\\b(the|a|of|to|and)\\b')) AS BIGINT)
                > CAST(len(regexp_extract_all(text, '\\S+')) AS BIGINT)
              THEN 1 ELSE 0 END AS sel
  FROM documents WHERE text IS NOT NULL AND source IS NOT NULL
),
st AS (
  SELECT source,
         CAST(count(*) AS HUGEINT) AS n,
         CAST(sum(sel) AS HUGEINT) AS k
  FROM scored GROUP BY 1
),
mx AS (
  SELECT source, n, k,
         first_value(k) OVER (ORDER BY k * 1000000 // n DESC, source)
           AS k_ref,
         first_value(n) OVER (ORDER BY k * 1000000 // n DESC, source)
           AS n_ref,
         first_value(source) OVER (ORDER BY k * 1000000 // n DESC, source)
           AS ref_source
  FROM st
)
SELECT source,
       CAST(n AS BIGINT) AS n_docs,
       CAST(k AS BIGINT) AS n_selected,
       CAST((1000 * k) // n AS BIGINT) AS rate_permille,
       ref_source,
       CASE WHEN k_ref > 0 THEN
         CAST((1000 * k * n_ref) // (k_ref * n) AS BIGINT)
       END AS impact_permille,
       CASE WHEN k_ref > 0 THEN
         5 * k * n_ref < 4 * k_ref * n END AS adverse_impact
FROM mx
"""


@query("di1_disparate_impact", oracle=_DI1_SQL)
def di1_disparate_impact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Disparate-impact audit of the cls1 selection rule across
    sources under the four-fifths rule (US EEOC 1978 Uniform
    Guidelines; Feldman et al. 2015 for the ML framing): a source
    whose selection rate falls below 4/5 of the highest-rate
    source's is adversely impacted — the standard first-pass
    fairness screen for any gating classifier a curation pipeline
    deploys (here: which sources does the cheap lang-id rule
    systematically filter out?). Completes the governance family
    (anon1/priv2/tcl1 audit the DATA; di1 audits a deployed RULE).

    Exactness: per-source selection counts are exact integers off
    ONE (source) groupBy; the reference group is the max-rate source
    under the integral-micro rate order with the source tiebreak
    (deterministic in both engines); the impact ratio exits as one
    integral permille division, and the 4/5 flag clears both
    denominators by cross-multiplication: rate_s/rate_ref < 4/5 <=>
    5*k_s*n_ref < 4*k_ref*n_s — pure integers, no ratio ever
    materialized. An all-zero reference (nobody selected anywhere)
    yields NULL flags. 1e6-scale products cap at n ~ 1e15.

    Scale shape: ONE map-side-combinable (source) groupBy; the
    reference pick is a first_value window over the SOURCE-COUNT
    relation (k rows). No join, one corpus pass."""
    txt = F.col("text")
    hits = F.size(
        F.regexp_extract_all(
            F.lower(txt), F.lit(r"\b(the|a|of|to|and)\b"), 0
        )
    ).cast("long")
    toks = F.size(F.regexp_extract_all(txt, F.lit(r"\S+"), 0)).cast("long")
    scored = (
        load(spark, sf_dir, "documents")
        .filter(txt.isNotNull() & F.col("source").isNotNull())
        .select(
            "source",
            F.when(50 * hits > toks, 1).otherwise(0).alias("sel"),
        )
    )
    dec = "decimal(38,0)"
    st = scored.groupBy("source").agg(
        F.count("*").cast(dec).alias("n"),
        F.sum("sel").cast(dec).alias("k"),
    )
    w = Window.orderBy(
        F.expr("k * 1000000 div n").desc(), F.col("source").asc()
    )
    mx = st.select(
        "source",
        "n",
        "k",
        F.first("k").over(w).alias("k_ref"),
        F.first("n").over(w).alias("n_ref"),
        F.first("source").over(w).alias("ref_source"),
    )
    return mx.select(
        "source",
        F.col("n").cast("long").alias("n_docs"),
        F.col("k").cast("long").alias("n_selected"),
        F.expr("CAST((1000 * k) div n AS BIGINT)").alias("rate_permille"),
        "ref_source",
        F.expr(
            "CASE WHEN k_ref > 0 THEN"
            " CAST((1000 * k * n_ref) div (k_ref * n) AS BIGINT) END"
        ).alias("impact_permille"),
        F.expr(
            "CASE WHEN k_ref > 0 THEN"
            " 5 * k * n_ref < 4 * k_ref * n END"
        ).alias("adverse_impact"),
    )


# --------------------------------------------------------------------------
# eo1 — equalized-odds audit of the cls1 rule per source (round 13)
# --------------------------------------------------------------------------

_EO_CRIT_MICRO = 3_841_459  # chi^2_{0.95, df=1} in micro

#: two-proportion z^2, group vs rest, all denominators cleared:
#: z^2 = (x1*m2 - x2*m1)^2 * (m1+m2) / (m1*m2*(x1+x2)*((m1+m2)-(x1+x2)))
_EO_Z2 = (
    "({x1} * {m2} - {x2} * {m1}) * ({x1} * {m2} - {x2} * {m1})"
    " * ({m1} + {m2})"
)
_EO_DEN = "({m1} * {m2} * ({x1} + {x2}) * ({m1} + {m2} - {x1} - {x2}))"

_EO1_SQL = f"""
WITH scored AS (
  SELECT source,
         CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS tr,
         CASE WHEN 50 * CAST(len(regexp_extract_all(lower(text),
                            '\\b(the|a|of|to|and)\\b')) AS BIGINT)
                > CAST(len(regexp_extract_all(text, '\\S+')) AS BIGINT)
              THEN 1 ELSE 0 END AS pr
  FROM documents
  WHERE lang IS NOT NULL AND text IS NOT NULL AND source IS NOT NULL
),
st AS (
  SELECT source,
         CAST(count(*) FILTER (tr = 1) AS HUGEINT) AS p,
         CAST(count(*) FILTER (tr = 1 AND pr = 1) AS HUGEINT) AS tp,
         CAST(count(*) FILTER (tr = 0) AS HUGEINT) AS ng,
         CAST(count(*) FILTER (tr = 0 AND pr = 1) AS HUGEINT) AS fp
  FROM scored GROUP BY 1
),
tot AS (
  SELECT source, p, tp, ng, fp,
         sum(p) OVER () - p AS rp, sum(tp) OVER () - tp AS rtp,
         sum(ng) OVER () - ng AS rng, sum(fp) OVER () - fp AS rfp
  FROM st
)
SELECT source,
       CAST(p AS BIGINT) AS n_pos,
       CAST(ng AS BIGINT) AS n_neg,
       CASE WHEN p > 0 THEN CAST((1000 * tp) // p AS BIGINT)
       END AS tpr_permille,
       CASE WHEN ng > 0 THEN CAST((1000 * fp) // ng AS BIGINT)
       END AS fpr_permille,
       CASE WHEN p > 0 AND rp > 0 AND tp + rtp > 0
             AND p + rp > tp + rtp THEN
         1000000 * {_EO_Z2.format(x1="tp", m1="p", x2="rtp", m2="rp")}
           > {_EO_CRIT_MICRO}
             * {_EO_DEN.format(x1="tp", m1="p", x2="rtp", m2="rp")}
       END AS tpr_differs,
       CASE WHEN ng > 0 AND rng > 0 AND fp + rfp > 0
             AND ng + rng > fp + rfp THEN
         1000000 * {_EO_Z2.format(x1="fp", m1="ng", x2="rfp", m2="rng")}
           > {_EO_CRIT_MICRO}
             * {_EO_DEN.format(x1="fp", m1="ng", x2="rfp", m2="rng")}
       END AS fpr_differs
FROM tot
"""


@query("eo1_equalized_odds", oracle=_EO1_SQL)
def eo1_equalized_odds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equalized-odds audit (Hardt, Price & Srebro 2016) of the cls1
    lang-id rule per source: does any source's TRUE-POSITIVE rate or
    FALSE-POSITIVE rate differ significantly from the rest of the
    corpus? di1's four-fifths rule screens raw selection rates
    (demographic parity); equalized odds is the error-rate criterion
    — a rule can select every source at the same rate while being
    WRONG about different sources in different directions, and only
    the TPR/FPR decomposition sees it. Per source, each rate gets a
    group-vs-rest two-proportion z-test (the ab1 machinery turned
    into a leave-one-out audit).

    Exactness: the four cells per source are exact integers off ONE
    (source) groupBy; rest-of-corpus cells are wall-window totals
    minus own (k-row relation, never a second pass); the z^2 =
    (x1*m2 - x2*m1)^2*(m1+m2) / (m1*m2*(x1+x2)*(m1+m2-x1-x2)) form
    clears every denominator, so both gates are cross-multiplied
    integer compares vs the frozen chi^2_1 critical. Degenerate
    margins (empty group/rest, all-positive or all-negative pooled
    predictions) yield NULL, never a fabricated verdict.
    DECIMAL(38,0): crit*m1*m2*(x1+x2)*(rest) <= 3.8e6*n^4 caps the
    corpus at ~1e8 docs (the mcc1 convention — audit per shard past
    that).

    Scale shape: ONE map-side-combinable (source) groupBy; the
    leave-one-out totals ride one wall window over the k-row source
    relation. No join, one corpus pass."""
    txt = F.col("text")
    hits = F.size(
        F.regexp_extract_all(
            F.lower(txt), F.lit(r"\b(the|a|of|to|and)\b"), 0
        )
    ).cast("long")
    toks = F.size(F.regexp_extract_all(txt, F.lit(r"\S+"), 0)).cast("long")
    scored = (
        load(spark, sf_dir, "documents")
        .filter(
            F.col("lang").isNotNull()
            & txt.isNotNull()
            & F.col("source").isNotNull()
        )
        .select(
            "source",
            F.when(F.col("lang") == "en", 1).otherwise(0).alias("tr"),
            F.when(50 * hits > toks, 1).otherwise(0).alias("pr"),
        )
    )
    dec = "decimal(38,0)"
    st = scored.groupBy("source").agg(
        F.count(F.when(F.col("tr") == 1, 1)).cast(dec).alias("p"),
        F.count(F.when((F.col("tr") == 1) & (F.col("pr") == 1), 1))
        .cast(dec)
        .alias("tp"),
        F.count(F.when(F.col("tr") == 0, 1)).cast(dec).alias("ng"),
        F.count(F.when((F.col("tr") == 0) & (F.col("pr") == 1), 1))
        .cast(dec)
        .alias("fp"),
    )
    wall = Window.partitionBy()
    tot = st.select(
        "source",
        "p",
        "tp",
        "ng",
        "fp",
        (F.sum("p").over(wall) - F.col("p")).cast(dec).alias("rp"),
        (F.sum("tp").over(wall) - F.col("tp")).cast(dec).alias("rtp"),
        (F.sum("ng").over(wall) - F.col("ng")).cast(dec).alias("rng"),
        (F.sum("fp").over(wall) - F.col("fp")).cast(dec).alias("rfp"),
    )
    z2_tpr = _EO_Z2.format(x1="tp", m1="p", x2="rtp", m2="rp")
    den_tpr = _EO_DEN.format(x1="tp", m1="p", x2="rtp", m2="rp")
    z2_fpr = _EO_Z2.format(x1="fp", m1="ng", x2="rfp", m2="rng")
    den_fpr = _EO_DEN.format(x1="fp", m1="ng", x2="rfp", m2="rng")
    return tot.select(
        "source",
        F.col("p").cast("long").alias("n_pos"),
        F.col("ng").cast("long").alias("n_neg"),
        F.expr(
            "CASE WHEN p > 0 THEN CAST((1000 * tp) div p AS BIGINT) END"
        ).alias("tpr_permille"),
        F.expr(
            "CASE WHEN ng > 0 THEN CAST((1000 * fp) div ng AS BIGINT) END"
        ).alias("fpr_permille"),
        F.expr(
            f"CASE WHEN p > 0 AND rp > 0 AND tp + rtp > 0"
            f" AND p + rp > tp + rtp THEN"
            f" 1000000 * {z2_tpr} > {_EO_CRIT_MICRO} * {den_tpr} END"
        ).alias("tpr_differs"),
        F.expr(
            f"CASE WHEN ng > 0 AND rng > 0 AND fp + rfp > 0"
            f" AND ng + rng > fp + rfp THEN"
            f" 1000000 * {z2_fpr} > {_EO_CRIT_MICRO} * {den_fpr} END"
        ).alias("fpr_differs"),
    )
