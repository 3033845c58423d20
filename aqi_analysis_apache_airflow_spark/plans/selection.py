"""Round-7 data-selection, fusion, and diversity operators: hybrid
reciprocal-rank fusion (rr1), corpus distinct-n diversity (div1), and
friends added over the round.

No reference counterpart (the reference is a 479-line pandas ETL —
``dags/etl/*.py``); these extend the training-data-pipeline surface a
100 TB deployment needs, following the established design rules
(see ``plans/curation.py`` / ``plans/retrieval.py``):

- every surfaced double is produced by the SAME sequence of IEEE
  operations in Spark and the DuckDB oracle (sums route through
  DECIMAL / exact integers; one-shot mul/div stays raw);
- ranking always ends in a unique tiebreak key;
- plans are shuffle-minimal and documented for the 100 TB case.

Public sources: Cormack, Clarke & Buettcher SIGIR 2009 (reciprocal
rank fusion, k=60); Li et al. NAACL 2016 (distinct-n diversity);
Robertson & Zaragoza 2009 (the BM25 lexical arm, shared with ret1).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.materialize import pin
from ..functions.dedup import CE_HASH64_SQL, ce_hash64, tokens
from ..functions.graph import (
    dim_broadcast_gate,
    kcore_peel,
    lpa_propagate,
    lpa_semisync,
    pagerank,
)
from ..functions.similarity import cosine
from ..functions.spread import spread_if_narrow
from .registry import load, load_spread, materialized, query
from .retrieval import _BM25_CTES, bm25_doc_scores

# --------------------------------------------------------------------------
# rr1 — hybrid retrieval via reciprocal rank fusion (BM25 ⊕ cosine)
# --------------------------------------------------------------------------

_RRF_K = 60  # Cormack et al.'s constant — dampens the head of each list
_RRF_POOL = 50  # per-ranker candidate pool
_RRF_TOPK = 20

#: exact cosine ranker against the vec_id=0 query — the semantic arm.
#: Same decimal-dot + 6dp-round recipe as sim_cosine_topk
#: (plans/extended.py), reduced to (id, rank) for fusion.
_SEM_CTES = f"""
q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
sem_pairs AS (
  SELECT e.vec_id, unnest(e.embedding) AS x, unnest(q.qv) AS y
  FROM embeddings e, q
  WHERE e.vec_id <> 0
),
sem_dots AS (
  SELECT vec_id,
         SUM(CAST(CAST(x AS DOUBLE) * CAST(y AS DOUBLE) AS DECIMAL(28,14))) AS dot,
         SUM(CAST(CAST(x AS DOUBLE) * CAST(x AS DOUBLE) AS DECIMAL(28,14))) AS na,
         SUM(CAST(CAST(y AS DOUBLE) * CAST(y AS DOUBLE) AS DECIMAL(28,14))) AS nb
  FROM sem_pairs GROUP BY vec_id
),
sem_pool AS (
  SELECT vec_id,
         round(CAST(dot AS DOUBLE)
           / (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE))), 6) AS sim
  FROM sem_dots
  WHERE na > 0 AND nb > 0
  ORDER BY sim DESC, vec_id
  LIMIT {_RRF_POOL}
),
sem AS (
  SELECT vec_id AS doc_id,
         CAST(row_number() OVER (ORDER BY sim DESC, vec_id) AS INTEGER)
           AS sem_rank
  FROM sem_pool
)"""

_RR1_SQL = f"""
WITH {_BM25_CTES},
lex_pool AS (
  SELECT doc_id, score FROM bm
  ORDER BY score DESC, doc_id
  LIMIT {_RRF_POOL}
),
lex AS (
  SELECT doc_id,
         CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS INTEGER)
           AS lex_rank
  FROM lex_pool
),
{_SEM_CTES}
SELECT COALESCE(lex.doc_id, sem.doc_id) AS doc_id,
       lex.lex_rank AS lex_rank,
       sem.sem_rank AS sem_rank,
       COALESCE(1.0 / ({_RRF_K}.0 + CAST(lex.lex_rank AS DOUBLE)), 0.0)
         + COALESCE(1.0 / ({_RRF_K}.0 + CAST(sem.sem_rank AS DOUBLE)), 0.0)
         AS rrf_score
FROM lex FULL OUTER JOIN sem ON lex.doc_id = sem.doc_id
ORDER BY rrf_score DESC, doc_id
LIMIT {_RRF_TOPK}
"""


def _ranked_arms(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """The two bounded ranked lists shared by rr1 (fusion) and tau1
    (agreement): BM25 lexical top-``_RRF_POOL`` and exact-cosine
    semantic top-``_RRF_POOL`` against the vec_id=0 probe. Each arm
    reduces the corpus via TakeOrderedAndProject; the rank windows run
    on the pooled ≤50-row lists only."""
    # NOT pinned (r14 A/B, git show 555704a:tools/ab_r14_pin{,2}.json):
    # checkpointing both arms measured a NET LOSS across the three
    # consumers (rr1 1.06/1.19, rbo1 1.12/1.12, tau1 0.98/0.98) — the
    # arms' corpus reductions are TakeOrdered heaps whose re-execution
    # is cheaper than the per-arm checkpoint round-trip, and the
    # single-reference consumers (rr1/rbo1) pay the checkpoint for
    # nothing.
    lex = (
        bm25_doc_scores(spark, sf_dir)
        .orderBy(F.col("score").desc(), "doc_id")
        .limit(_RRF_POOL)
        .withColumn(
            "lex_rank",
            F.row_number()
            .over(Window.orderBy(F.col("score").desc(), "doc_id"))
            .cast("int"),
        )
        .select("doc_id", "lex_rank")
    )
    emb = load_spread(spark, sf_dir, "embeddings")
    qvec = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    sem = (
        emb.filter(F.col("vec_id") != 0)
        .join(F.broadcast(qvec))
        .select(
            F.col("vec_id").alias("doc_id"),
            cosine(F.col("embedding"), F.col("qv")).alias("sim"),
        )
        .filter(F.col("sim").isNotNull())
        .orderBy(F.col("sim").desc(), "doc_id")
        .limit(_RRF_POOL)
        .withColumn(
            "sem_rank",
            F.row_number()
            .over(Window.orderBy(F.col("sim").desc(), "doc_id"))
            .cast("int"),
        )
        .select("doc_id", "sem_rank")
    )
    return lex, sem


@query("rr1_rank_fusion", oracle=_RR1_SQL)
def rr1_rank_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: reciprocal rank fusion (Cormack–Clarke–
    Buettcher 2009, k=60) of a lexical BM25 ranker and a semantic
    cosine ranker — the standard hybrid-search recipe for RAG corpus
    slicing, fusing rankers whose scores live on incomparable scales
    by rank alone. Docs surfaced by only one ranker score with the
    other arm at 0 (the published convention).

    Scale shape: each arm independently reduces the corpus to a
    bounded ``_RRF_POOL``-row ranked list via TakeOrderedAndProject
    (per-partition heap + driver merge — no global sort, no corpus
    shuffle beyond the arms' own aggregations, see ret1 /
    sim_cosine_topk for those). Rank assignment windows run on the
    pooled ≤50-row lists (single partition over a bounded list — NOT
    over the corpus), and the fusion join is a full-outer of two
    bounded lists. At 100 TB nothing here grows with the corpus.

    Determinism: BM25 scores are the ret1 decimal-summed form; cosine
    is the 6dp-rounded decimal-dot form; ranks are integers; the RRF
    score is two IEEE divisions and one addition with fixed operand
    order — bit-identical in any engine. Ties break on doc_id."""
    lex, sem = _ranked_arms(spark, sf_dir)
    arm = lambda r: F.coalesce(  # noqa: E731
        F.lit(1.0) / (F.lit(float(_RRF_K)) + F.col(r).cast("double")), F.lit(0.0)
    )
    return (
        lex.join(sem, "doc_id", "full_outer")
        .select(
            "doc_id",
            "lex_rank",
            "sem_rank",
            (arm("lex_rank") + arm("sem_rank")).alias("rrf_score"),
        )
        .orderBy(F.col("rrf_score").desc(), "doc_id")
        .limit(_RRF_TOPK)
    )


# --------------------------------------------------------------------------
# div1 — corpus diversity: distinct-n ratios per source
# --------------------------------------------------------------------------

_DIV1_SQL = """
WITH toks AS (
  SELECT source, regexp_extract_all(text, '\\S+') AS t FROM documents
),
uni AS (
  SELECT source, unnest(t) AS g FROM toks
),
big AS (
  SELECT source, t[i] || ' ' || t[i+1] AS g
  FROM toks, UNNEST(range(1, greatest(len(t), 1))) AS u(i)
),
uni_gc AS (SELECT source, g, count(*) AS c FROM uni GROUP BY 1, 2),
big_gc AS (SELECT source, g, count(*) AS c FROM big GROUP BY 1, 2),
uni_s AS (
  SELECT source, CAST(count(*) AS BIGINT) AS distinct_unigrams,
         CAST(sum(c) AS BIGINT) AS total_unigrams
  FROM uni_gc GROUP BY 1
),
big_s AS (
  SELECT source, CAST(count(*) AS BIGINT) AS distinct_bigrams,
         CAST(sum(c) AS BIGINT) AS total_bigrams
  FROM big_gc GROUP BY 1
),
nd AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs FROM documents GROUP BY 1)
SELECT nd.source,
       nd.n_docs,
       COALESCE(u.total_unigrams, 0) AS total_unigrams,
       COALESCE(u.distinct_unigrams, 0) AS distinct_unigrams,
       CAST(COALESCE(u.distinct_unigrams, 0) AS DOUBLE)
         / nullif(CAST(COALESCE(u.total_unigrams, 0) AS DOUBLE), 0.0)
         AS distinct_1,
       COALESCE(b.total_bigrams, 0) AS total_bigrams,
       COALESCE(b.distinct_bigrams, 0) AS distinct_bigrams,
       CAST(COALESCE(b.distinct_bigrams, 0) AS DOUBLE)
         / nullif(CAST(COALESCE(b.total_bigrams, 0) AS DOUBLE), 0.0)
         AS distinct_2
FROM nd
LEFT JOIN uni_s u ON u.source = nd.source
LEFT JOIN big_s b ON b.source = nd.source
"""


def _bigrams(t):
    """Adjacent-token bigram list via two shifted slice views — the
    qc2 zip_with recipe (no per-element re-evaluation of the token
    expression). <2 tokens (or NULL text) → empty list, matching the
    oracle's empty range()."""
    n = F.size(t)
    return F.when(
        n >= 2,
        F.zip_with(
            F.slice(t, 1, n - 1),
            F.slice(t, 2, n - 1),
            lambda a, b: F.concat(a, F.lit(" "), b),
        ),
    ).otherwise(F.array().cast("array<string>"))


@query("div1_distinct_ngrams", oracle=_DIV1_SQL)
def div1_distinct_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source distinct-n lexical diversity (Li et al. 2016's
    distinct-1/distinct-2): the share of a source's token (and
    adjacent-bigram) stream made of unique grams. Low distinct-n
    flags templated / machine-generated / boilerplate-heavy sources
    before they flood a training mix; the ratio pairs with drift1's
    length monitoring as a standing per-ingest diversity dashboard.

    Scale shape: two exploded gram streams, each reduced by ONE
    map-side-combined groupBy on (source, gram) — the only shuffles
    that see corpus-sized data; per-partition combining collapses the
    stream to its distinct grams before the wire. The per-source
    rollups and the three-way source join are |sources|-sized
    (broadcast). Exact distinct counts are the point here (the ratio
    is a published metric); a corpus whose distinct-gram set itself
    overwhelms the shuffle swaps in the hll1 sketch for the distinct
    term with no other change.

    Determinism: counts are exact BIGINTs; each ratio is ONE IEEE
    division (NULL for a gramless source — nullif on both engines,
    no ANSI divide-by-zero)."""
    docs = load(spark, sf_dir, "documents")
    toks = docs.select("source", tokens(F.col("text")).alias("t"))

    def roll(grams, d_name, t_name):
        return (
            grams.groupBy("source", "g")
            .agg(F.count("*").alias("c"))
            .groupBy("source")
            .agg(
                F.count("*").alias(d_name),
                F.sum("c").alias(t_name),
            )
        )

    uni_s = roll(toks.select("source", F.explode("t").alias("g")), "du", "tu")
    big_s = roll(
        toks.select("source", F.explode(_bigrams(F.col("t"))).alias("g")),
        "db",
        "tb",
    )
    nd = docs.groupBy("source").agg(F.count("*").alias("n_docs"))
    z = F.lit(0).cast("long")
    tu = F.coalesce(F.col("tu"), z)
    du = F.coalesce(F.col("du"), z)
    tb = F.coalesce(F.col("tb"), z)
    db = F.coalesce(F.col("db"), z)

    def ratio(d, t):
        return d.cast("double") / F.nullif(t.cast("double"), F.lit(0.0))

    return (
        nd.join(uni_s, "source", "left_outer")
        .join(big_s, "source", "left_outer")
        .select(
            "source",
            "n_docs",
            tu.alias("total_unigrams"),
            du.alias("distinct_unigrams"),
            ratio(du, tu).alias("distinct_1"),
            tb.alias("total_bigrams"),
            db.alias("distinct_bigrams"),
            ratio(db, tb).alias("distinct_2"),
        )
    )


# --------------------------------------------------------------------------
# bloom1 — Bloom-filter membership sketch with self-verifying guarantee
# --------------------------------------------------------------------------

_BF_M = 8192  # bits
_BF_K = 3  # hash functions


def _bf_bit_sql(j: int, key: str) -> str:
    h = CE_HASH64_SQL.format(h=f"md5('bf{j}|'||CAST({key} AS VARCHAR))")
    return f"((({h}) % {_BF_M}) + {_BF_M}) % {_BF_M}"


_BLOOM1_SQL = f"""
WITH keyed AS (
  SELECT doc_id, bool_or(lang = 'en') AS member
  FROM documents WHERE doc_id IS NOT NULL
  GROUP BY doc_id
),
bits AS (
  SELECT DISTINCT u.bit FROM keyed,
    UNNEST([{_bf_bit_sql(0, "doc_id")},
            {_bf_bit_sql(1, "doc_id")},
            {_bf_bit_sql(2, "doc_id")}]) AS u(bit)
  WHERE member
),
probe AS (
  SELECT doc_id, member, u.bit FROM keyed,
    UNNEST([{_bf_bit_sql(0, "doc_id")},
            {_bf_bit_sql(1, "doc_id")},
            {_bf_bit_sql(2, "doc_id")}]) AS u(bit)
),
hit AS (
  SELECT p.doc_id,
         bool_or(p.member) AS member,
         count(b.bit) AS nhit
  FROM probe p LEFT JOIN bits b ON p.bit = b.bit
  GROUP BY p.doc_id
),
flags AS (
  SELECT doc_id, member, nhit = {_BF_K} AS positive FROM hit
),
agg AS (
  SELECT CAST(count(*) AS BIGINT) AS n_probes,
         CAST(count(*) FILTER (WHERE member) AS BIGINT) AS n_members,
         CAST(count(*) FILTER (WHERE positive) AS BIGINT) AS n_positive,
         CAST(count(*) FILTER (WHERE positive AND NOT member) AS BIGINT)
           AS n_false_positive,
         CAST(count(*) FILTER (WHERE member AND NOT positive) AS BIGINT)
           AS n_false_negative
  FROM flags
)
SELECT CAST({_BF_M} AS INTEGER) AS m_bits,
       CAST({_BF_K} AS INTEGER) AS k_hashes,
       n_probes, n_members, n_positive, n_false_positive,
       n_false_negative,
       n_false_negative = 0 AS no_false_negatives,
       CAST(n_false_positive AS DOUBLE)
         / nullif(CAST(n_probes - n_members AS DOUBLE), 0.0) AS fpr
FROM agg
"""


def _bf_bit(j: int, key):
    h = ce_hash64(F.concat(F.lit(f"bf{j}|"), key.cast("string")))
    return ((h % _BF_M) + _BF_M) % _BF_M


@query("bloom1_bloom_membership", oracle=_BLOOM1_SQL)
def bloom1_bloom_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter membership sketch (Bloom 1970; m=8192, k=3) built
    over the English-language doc-id set, probed with every doc id —
    the semi-join-reduction primitive: ship the bounded bit set to
    every probe-side task and drop non-members BEFORE they reach a
    shuffle. The summary is self-verifying the way mg1/hll1 are: the
    structural guarantee (NO false negatives — every member tests
    positive) is surfaced as a boolean the oracle must agree on, and
    the measured false-positive rate quantifies the one-sided error.

    Scale shape: membership truth is ONE map-side-combined groupBy on
    doc_id; the bit table is bounded at m=8192 rows regardless of
    corpus size (broadcast to the probe join); the probe stream
    explodes ×k then reduces by the same doc_id key. At 100 TB the
    production variant swaps the md5 triple for xxhash64 and the bit
    rows for an aggregated binary bitmap (or Spark's own runtime
    row-level filters) with no plan change — md5 here is what makes
    the sketch oracle-VERIFIABLE. NULL ids are excluded by policy on
    both engines (NULL hashes to NULL — it can neither set nor test a
    bit).

    Determinism: bits are exact integer arithmetic on the ce_hash64
    family; the fpr is ONE IEEE division (NULL when every probe is a
    member — nullif on both engines)."""
    keyed = (
        load(spark, sf_dir, "documents")
        .filter(F.col("doc_id").isNotNull())
        .groupBy("doc_id")
        .agg(F.max(F.col("lang") == "en").alias("member"))
    )
    bit_arr = F.array(*[_bf_bit(j, F.col("doc_id")) for j in range(_BF_K)])
    bits = (
        keyed.filter("member")
        .select(F.explode(bit_arr).alias("bit"))
        .distinct()
    )
    probe = keyed.select("doc_id", "member", F.explode(bit_arr).alias("bit"))
    hit = (
        probe.join(F.broadcast(bits.withColumn("__in", F.lit(1))), "bit", "left_outer")
        .groupBy("doc_id")
        .agg(
            F.max("member").alias("member"),
            F.count("__in").alias("nhit"),
        )
    )
    flags = hit.select("member", (F.col("nhit") == _BF_K).alias("positive"))
    agg = flags.agg(
        F.count("*").alias("n_probes"),
        F.count_if("member").alias("n_members"),
        F.count_if("positive").alias("n_positive"),
        F.count_if(F.col("positive") & ~F.col("member")).alias("n_false_positive"),
        F.count_if(F.col("member") & ~F.col("positive")).alias("n_false_negative"),
    )
    return agg.select(
        F.lit(_BF_M).cast("int").alias("m_bits"),
        F.lit(_BF_K).cast("int").alias("k_hashes"),
        "n_probes",
        "n_members",
        "n_positive",
        "n_false_positive",
        "n_false_negative",
        (F.col("n_false_negative") == 0).alias("no_false_negatives"),
        (
            F.col("n_false_positive").cast("double")
            / F.nullif(
                (F.col("n_probes") - F.col("n_members")).cast("double"), F.lit(0.0)
            )
        ).alias("fpr"),
    )


# --------------------------------------------------------------------------
# winnow1 — winnowing fingerprint selection (Schleimer–Stolfo–Aiken)
# --------------------------------------------------------------------------

_WN_K = 4  # tokens per k-gram
_WN_W = 5  # hashes per winnowing window
_WN_H_MOD = 1 << 40  # hash folded to 40 bits so the (hash, pos) packs in 60
_WN_POS = 1 << 20  # stream-position bound (1M k-grams/doc)

_WN_CE = CE_HASH64_SQL.format(h="md5('wn|'||g)")

def _wn_sel_ctes(rel: str, p: str = "") -> str:
    """The winnowing selection CTE chain (tokens -> k-gram hashes ->
    stream rank -> packed-key windowed min) over relation ``rel``
    (must expose doc_id, text), CTE names prefixed with ``p`` so two
    instantiations can coexist in one statement. Ends in ``{p}sel``
    (doc_id, rn, selkey)."""
    return f"""{p}toks AS (
  SELECT doc_id, regexp_extract_all(text, '\\S+') AS t
  FROM {rel}
),
{p}grams AS (
  SELECT doc_id, i,
         t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] AS g
  FROM {p}toks, UNNEST(range(1, greatest(len(t) - {_WN_K - 2}, 1))) AS u(i)
),
{p}hashed AS (
  SELECT doc_id, i,
         ((({_WN_CE}) % {_WN_H_MOD}) + {_WN_H_MOD}) % {_WN_H_MOD} AS h
  FROM {p}grams
),
{p}ranked AS (
  SELECT doc_id, h,
         row_number() OVER (PARTITION BY doc_id ORDER BY i, h) AS rn
  FROM {p}hashed
),
{p}keyed AS (
  SELECT doc_id, rn,
         h * {_WN_POS} + ({_WN_POS - 1} - least(rn, {_WN_POS - 1})) AS key
  FROM {p}ranked
),
{p}sel AS (
  SELECT doc_id, rn,
         min(key) OVER (
           PARTITION BY doc_id ORDER BY rn
           ROWS BETWEEN {_WN_W - 1} PRECEDING AND CURRENT ROW) AS selkey
  FROM {p}keyed
)"""


_WINNOW1_SQL = f"""
WITH {_wn_sel_ctes("(SELECT doc_id, text FROM documents WHERE doc_id IS NOT NULL)")}
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_kgrams,
       CAST(count(*) FILTER (WHERE rn >= {_WN_W}) AS BIGINT) AS n_windows,
       CAST(count(DISTINCT CASE WHEN rn >= {_WN_W} THEN selkey END) AS BIGINT)
         AS n_selected,
       CAST(count(DISTINCT CASE WHEN rn >= {_WN_W} THEN selkey END) AS DOUBLE)
         / nullif(CAST(count(*) FILTER (WHERE rn >= {_WN_W}) AS DOUBLE), 0.0)
         AS density,
       min(CASE WHEN rn >= {_WN_W} THEN selkey // {_WN_POS} END) AS min_fingerprint
FROM sel
GROUP BY doc_id
"""


def _winnow_sel(docs: DataFrame) -> DataFrame:
    """Winnowing selection stage over (doc_id, text): returns one row
    per k-gram stream position with (doc_id, rn, selkey) where selkey
    packs the window's (40-bit hash, flipped position) argmin; rows
    with rn >= _WN_W carry a COMPLETE window's selection. Shared by
    winnow1 and the cp2 fused pipeline."""
    toks = docs.select("doc_id", tokens(F.col("text")).alias("t"))
    n = F.size(F.col("t"))
    grams = F.when(
        n >= _WN_K,
        F.zip_with(
            F.slice(F.col("t"), 1, n - (_WN_K - 1)),
            F.zip_with(
                F.slice(F.col("t"), 2, n - (_WN_K - 1)),
                F.zip_with(
                    F.slice(F.col("t"), 3, n - (_WN_K - 1)),
                    F.slice(F.col("t"), 4, n - (_WN_K - 1)),
                    lambda c, d: F.concat(c, F.lit(" "), d),
                ),
                lambda b, cd: F.concat(b, F.lit(" "), cd),
            ),
            lambda a, bcd: F.concat(a, F.lit(" "), bcd),
        ),
    ).otherwise(F.array().cast("array<string>"))
    hashed = toks.select(
        "doc_id", F.posexplode(grams).alias("i0", "g")
    ).select(
        "doc_id",
        (F.col("i0") + 1).alias("i"),
        (
            (
                (ce_hash64(F.concat(F.lit("wn|"), F.col("g"))) % _WN_H_MOD)
                + _WN_H_MOD
            )
            % _WN_H_MOD
        ).alias("h"),
    )
    w_doc = Window.partitionBy("doc_id")
    rn = F.row_number().over(w_doc.orderBy("i", "h"))
    # clamp the position term at 2^20-1 on BOTH engines: a doc past
    # _WN_POS k-grams would otherwise drive the packed key's position
    # term negative and silently corrupt the rightmost-tie argmin
    # (advice r7). Past the clamp, oversized docs degrade to
    # leftmost-tie within the overflow tail instead of mis-ordering.
    keyed = hashed.select(
        "doc_id",
        rn.alias("rn"),
        (
            F.col("h") * _WN_POS
            + (F.lit(_WN_POS - 1) - F.least(rn, F.lit(_WN_POS - 1)))
        ).alias("key"),
    )
    return keyed.select(
        "doc_id",
        "rn",
        F.min("key")
        .over(w_doc.orderBy("rn").rowsBetween(-(_WN_W - 1), 0))
        .alias("selkey"),
    )


@query("winnow1_winnowing_fingerprints", oracle=_WINNOW1_SQL)
def winnow1_winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprint selection (Schleimer, Stolfo & Aiken
    SIGMOD 2003 — the MOSS algorithm): hash every ``_WN_K``-token
    k-gram, slide a ``_WN_W``-hash window over the stream, and select
    each window's minimum hash (rightmost on ties). The selected set
    is the document's fingerprint sketch — the published guarantee is
    that any shared substring of ≥ w+k-1 tokens yields a shared
    selected fingerprint, at an expected density of 2/(w+1), so a
    downstream near-dup join shuffles ~2/(w+1) of the k-gram stream
    instead of all of it (the cheap front-end to the d-family's
    bucket joins). Surfaced per doc: k-gram/window/selected counts,
    the realized density, and the smallest selected fingerprint.

    Mechanics shared by both engines: the per-window argmin with the
    rightmost-tie rule is ONE windowed ``min`` over a packed BIGINT —
    hash folded to 40 bits (collision-tolerant by design: winnowing
    needs determinism, not injectivity) times 2^20 plus the
    bit-flipped stream position — clamped at 2^20−1 on both engines,
    so a doc past 1M k-grams degrades to leftmost-tie in its overflow
    tail instead of corrupting the key's sign — so ordering by the
    packed key IS (hash asc, position desc). Stream
    position is a row_number ordered by (token index, hash) — total
    even under adversarial duplicate doc_ids. Docs with no k-grams
    (under ``_WN_K`` tokens, or NULL text/ids — excluded by policy)
    emit nothing; docs with fewer than w hashes have zero complete
    windows and a NULL density.

    Scale shape: the gram build/hash is narrow; the ONLY corpus
    shuffle is the hash(doc_id) exchange feeding the per-doc
    sort+window (rank, min, and the final groupBy all share that one
    partitioning — Spark plans a single Exchange). Per-row double
    division for density; everything else exact integers."""
    docs = (
        load_spread(spark, sf_dir, "documents")
        .filter(F.col("doc_id").isNotNull())
        .select("doc_id", "text")
    )
    sel = _winnow_sel(docs)
    complete = F.col("rn") >= _WN_W
    sel_if = F.when(complete, F.col("selkey"))
    n_sel = F.countDistinct(sel_if)
    n_win = F.count_if(complete)
    return sel.groupBy("doc_id").agg(
        F.count("*").alias("n_kgrams"),
        n_win.alias("n_windows"),
        n_sel.alias("n_selected"),
        (
            n_sel.cast("double") / F.nullif(n_win.cast("double"), F.lit(0.0))
        ).alias("density"),
        F.min(F.expr(f"CASE WHEN rn >= {_WN_W} THEN selkey div {_WN_POS} END")).alias(
            "min_fingerprint"
        ),
    )


# --------------------------------------------------------------------------
# winnow2 — near-dup candidate pairs via shared winnowing fingerprints
# --------------------------------------------------------------------------

_WN2_DF_CAP = 50  # drop boilerplate fingerprints shared by > this many docs
_WN2_MIN_SHARED = 2  # pairs need >= 2 shared fingerprints (prunes collisions)

_WINNOW2_SQL = f"""
WITH {_wn_sel_ctes("(SELECT doc_id, text FROM documents WHERE doc_id IS NOT NULL)")},
fps AS (
  SELECT DISTINCT doc_id, selkey // {_WN_POS} AS fp
  FROM sel WHERE rn >= {_WN_W}
),
dfc AS (SELECT fp, CAST(count(*) AS BIGINT) AS c FROM fps GROUP BY fp),
kept AS (
  SELECT f.doc_id, f.fp
  FROM fps f JOIN dfc USING (fp) WHERE dfc.c <= {_WN2_DF_CAP}
),
nf AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS nf FROM kept GROUP BY doc_id),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         CAST(count(*) AS BIGINT) AS shared_fps
  FROM kept a JOIN kept b ON a.fp = b.fp AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT p.doc_a, p.doc_b, p.shared_fps,
       na.nf AS nf_a, nb.nf AS nf_b,
       CAST(p.shared_fps AS DOUBLE)
         / CAST(na.nf + nb.nf - p.shared_fps AS DOUBLE) AS jaccard_est
FROM pairs p
JOIN nf na ON p.doc_a = na.doc_id
JOIN nf nb ON p.doc_b = nb.doc_id
WHERE p.shared_fps >= {_WN2_MIN_SHARED}
"""


@query("winnow2_fingerprint_pairs", oracle=_WINNOW2_SQL)
def winnow2_fingerprint_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate CANDIDATE PAIRS from winnow1's fingerprint
    sketch — the second half of the MOSS pipeline (Schleimer, Stolfo
    & Aiken SIGMOD 2003): docs sharing selected fingerprints share
    ≥ w+k−1-token substrings by the winnowing guarantee, so joining
    on fingerprints surfaces near-dup/plagiarism candidates while
    shuffling only the ~2/(w+1)-density sketch instead of the full
    k-gram stream (the cheap front-end to d2's exact-Jaccard verify).
    Surfaced per pair: shared fingerprint count, each side's sketch
    size, and the sketch-resemblance estimate shared/(|A|+|B|−shared).

    Robustness rules shared by both engines: fingerprints are the
    per-doc DISTINCT selected 40-bit hashes (positions stripped);
    boilerplate fingerprints appearing in > {cap} docs are dropped
    BEFORE the pair join (the d-family's capped-fanout rule — one
    ubiquitous header k-gram must not quadratically explode the
    join), and pairs sharing fewer than {ms} fingerprints are pruned
    as probable 40-bit collisions.

    Scale shape: sketch build is winnow1's single doc-keyed exchange;
    the pair join is banded by fingerprint with the df cap bounding
    per-band fanout at {cap}² rows, never all-pairs; resemblance is
    one double division of exact integers. fps/kept persist — each
    feeds multiple consumers (df counts, sketch sizes, both join
    sides) and Spark plans are trees."""
    return _winnow2_pairs(spark, sf_dir)


def _winnow2_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """winnow2's candidate-pair builder (doc_a, doc_b, shared_fps,
    nf_a, nf_b, jaccard_est) — shared with wv1's recall audit."""
    from pyspark.storagelevel import StorageLevel

    docs = (
        load(spark, sf_dir, "documents")
        .filter(F.col("doc_id").isNotNull())
        .select("doc_id", "text")
    )
    fps = (
        _winnow_sel(docs)
        .filter(F.col("rn") >= _WN_W)
        .select("doc_id", F.expr(f"selkey div {_WN_POS}").alias("fp"))
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    dfc = fps.groupBy("fp").agg(F.count("*").alias("c"))
    kept = fps.join(
        dfc.filter(F.col("c") <= _WN2_DF_CAP).select("fp"), "fp"
    ).persist(StorageLevel.MEMORY_AND_DISK)
    nf = kept.groupBy("doc_id").agg(F.count("*").cast("long").alias("nf"))
    a = kept.select(F.col("doc_id").alias("doc_a"), "fp")
    b = kept.select(F.col("doc_id").alias("doc_b"), "fp")
    pairs = (
        a.join(b, "fp")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").cast("long").alias("shared_fps"))
        .filter(F.col("shared_fps") >= _WN2_MIN_SHARED)
    )
    return (
        pairs.join(
            nf.select(F.col("doc_id").alias("doc_a"), F.col("nf").alias("nf_a")),
            "doc_a",
        )
        .join(
            nf.select(F.col("doc_id").alias("doc_b"), F.col("nf").alias("nf_b")),
            "doc_b",
        )
        .select(
            "doc_a",
            "doc_b",
            "shared_fps",
            "nf_a",
            "nf_b",
            (
                F.col("shared_fps").cast("double")
                / (F.col("nf_a") + F.col("nf_b") - F.col("shared_fps")).cast(
                    "double"
                )
            ).alias("jaccard_est"),
        )
    )


winnow2_fingerprint_pairs.__doc__ = winnow2_fingerprint_pairs.__doc__.format(
    cap=_WN2_DF_CAP, ms=_WN2_MIN_SHARED
)


# --------------------------------------------------------------------------
# wv1 — winnowing-sketch recall audit vs exact capped-Jaccard pairs
# --------------------------------------------------------------------------


def _wv1_oracle() -> str:
    from .extended import _D2B_CTES

    return f"""
WITH {_D2B_CTES},
expairs AS (
  SELECT doc_a, doc_b
  FROM inter
  JOIN sizes sa ON sa.doc_id = doc_a
  JOIN sizes sb ON sb.doc_id = doc_b
  WHERE CAST(inter AS DOUBLE) / (sa.set_size + sb.set_size - inter) >= 0.5
),
{_wn_sel_ctes("(SELECT doc_id, text FROM documents WHERE doc_id IS NOT NULL)", "w")},
wfps AS (
  SELECT DISTINCT doc_id, selkey // {_WN_POS} AS fp
  FROM wsel WHERE rn >= {_WN_W}
),
wdfc AS (SELECT fp, CAST(count(*) AS BIGINT) AS c FROM wfps GROUP BY fp),
wkept AS (
  SELECT f.doc_id, f.fp
  FROM wfps f JOIN wdfc USING (fp) WHERE wdfc.c <= {_WN2_DF_CAP}
),
wpairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM wkept a JOIN wkept b ON a.fp = b.fp AND a.doc_id < b.doc_id
  GROUP BY 1, 2
  HAVING count(*) >= {_WN2_MIN_SHARED}
),
n1 AS (SELECT CAST(count(*) AS BIGINT) AS n_exact_pairs FROM expairs),
n2 AS (SELECT CAST(count(*) AS BIGINT) AS n_candidates FROM wpairs),
n3 AS (SELECT CAST(count(*) AS BIGINT) AS n_recovered
       FROM expairs JOIN wpairs USING (doc_a, doc_b))
SELECT n_exact_pairs, n_candidates, n_recovered,
       CAST(n_recovered AS DOUBLE)
         / nullif(CAST(n_exact_pairs AS DOUBLE), 0.0) AS recall
FROM n1, n2, n3
"""


@query("wv1_winnowing_recall", oracle=_wv1_oracle())
def wv1_winnowing_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall audit of the winnowing candidate front-end — the rec1
    question asked of the OTHER sketch family: what fraction of the
    exact capped-Jaccard near-dup pairs (3-word shingles, df ≤ 20,
    J ≥ 0.5 — the d2b/d9 ground truth) does winnow2's fingerprint
    pair join recover? The published winnowing guarantee covers
    shared SUBSTRINGS of ≥ w+k−1 tokens, not set-level Jaccard, so
    the recall fraction is a DATA property (how "runny" the corpus's
    near-dups are) and the number an operator rollout is gated on
    before swapping d2's shingle join for the ~2/(w+1)-density
    sketch. Hash-pinned like rec1: both arms replay bit-for-bit in
    the oracle, so the TRUE recall is verified, not a floor.

    Scale shape: the exact arm is the d2b capped enumeration (the
    audit's cost — rollout/monitor cadence, not per-ingest); the
    sketch arm is winnow2's banded join; the intersection joins two
    bounded pair sets on their keys. One-row output."""
    from pyspark.storagelevel import StorageLevel

    from ..functions.dedup import ngram_jaccard_pairs

    exact = (
        ngram_jaccard_pairs(
            load(spark, sf_dir, "documents"),
            threshold=0.5,
            max_doc_freq=20,
        )
        .select("doc_a", "doc_b")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    cand = (
        _winnow2_pairs(spark, sf_dir)
        .select("doc_a", "doc_b")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    n1 = exact.agg(F.count("*").cast("long").alias("n_exact_pairs"))
    n2 = cand.agg(F.count("*").cast("long").alias("n_candidates"))
    n3 = exact.join(cand, ["doc_a", "doc_b"]).agg(
        F.count("*").cast("long").alias("n_recovered")
    )
    return (
        n1.join(F.broadcast(n2))
        .join(F.broadcast(n3))
        .select(
            "n_exact_pairs",
            "n_candidates",
            "n_recovered",
            (
                F.col("n_recovered").cast("double")
                / F.nullif(
                    F.col("n_exact_pairs").cast("double"), F.lit(0.0)
                )
            ).alias("recall"),
        )
    )


# --------------------------------------------------------------------------
# kcen1 — greedy k-center coreset selection (farthest-first traversal)
# --------------------------------------------------------------------------

_KC_K = 5  # centers selected (1 seed + _KC_K-1 greedy rounds)

_KC_QX = """qx AS (
      SELECT vec_id, CAST(i - 1 AS INTEGER) AS pos,
             CAST(round(CAST(embedding[i] AS DOUBLE) * 1e7) AS BIGINT) AS q
      FROM embeddings, UNNEST(generate_series(1, len(embedding))) AS t(i)
    )"""


def _kcen1_oracle() -> str:
    """Unrolled-CTE replay of the greedy rounds (the km1/gr1
    precedent): quantized BIGINT coordinates, exact integer distances,
    integer argmin/argmax with unique tiebreaks — bit-identical in any
    engine."""
    ctes = [
        _KC_QX,
        "cset0 AS (SELECT CAST(vec_id AS BIGINT) AS cid, pos, q AS qc"
        " FROM qx WHERE vec_id = 0)",
    ]
    for i in range(1, _KC_K):
        ctes.append(
            f"""d{i} AS (
      SELECT e.vec_id, c.cid, SUM((e.q - c.qc) * (e.q - c.qc)) AS d2
      FROM qx e JOIN cset{i - 1} c ON e.pos = c.pos
      GROUP BY 1, 2
    )"""
        )
        ctes.append(
            f"md{i} AS (SELECT vec_id, min(d2) AS mind2 FROM d{i} GROUP BY 1)"
        )
        ctes.append(
            f"""win{i} AS (
      SELECT vec_id FROM md{i} ORDER BY mind2 DESC, vec_id LIMIT 1
    )"""
        )
        ctes.append(
            f"""cset{i} AS (
      SELECT cid, pos, qc FROM cset{i - 1}
      UNION ALL
      SELECT CAST(e.vec_id AS BIGINT) AS cid, e.pos, e.q AS qc
      FROM qx e JOIN win{i} w ON e.vec_id = w.vec_id
    )"""
        )
    last = _KC_K - 1
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f""",
    df AS (
      SELECT e.vec_id, c.cid, SUM((e.q - c.qc) * (e.q - c.qc)) AS d2
      FROM qx e JOIN cset{last} c ON e.pos = c.pos
      GROUP BY 1, 2
    ),
    best AS (
      SELECT vec_id, cid, d2 FROM (
        SELECT vec_id, cid, d2,
               row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rk
        FROM df) AS t WHERE rk = 1
    )
    SELECT b.vec_id, b.cid AS center_id, CAST(b.d2 AS BIGINT) AS dist2_scaled,
           b.vec_id IN (SELECT DISTINCT cid FROM cset{last}) AS is_center
    FROM best b"""
    )


@query("kcen1_kcenter_coreset", oracle=_kcen1_oracle())
def kcen1_kcenter_coreset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy k-center coreset selection (Gonzalez 1985's
    farthest-first traversal; Sener & Savarese ICLR 2018 as the
    data-selection recipe): seed with vec 0, then 4 greedy rounds each add
    the point FARTHEST from the current center set — the classic
    diversity-maximizing coreset whose radius 2-approximates the
    optimal k-center cover. Surfaced: every vector's nearest final
    center, its squared distance (quantized grid), and whether it is
    itself a center — the coverage assignment a curation pipeline
    uses to pick representative exemplars / seed clusters.

    Bit-exact by the km1 construction: coordinates quantize once to
    the 1e-7 grid (exact BIGINT), distances are exact integer sums,
    every argmin/argmax is an integer compare with a unique vec_id
    tiebreak (farthest ties → lowest id), and the oracle unrolls the
    identical recurrence as chained CTEs.

    Scale shape: the quantized explode persists once; each round is
    ONE broadcast of the ≤k×dim center table onto the cached corpus,
    one (vec, cid) aggregate, one (vec) min-aggregate, and a 1-row
    global argmax (the only thing resembling a collect never leaves
    the executors — the winner joins back as a broadcast 1-row
    aggregate, the sanctioned control-plane shape). Shuffles carry
    per-group partial sums, never vectors; k is fixed, so cost is
    k × (one corpus aggregate), independent of corpus width."""
    from pyspark.storagelevel import StorageLevel

    emb = load(spark, sf_dir, "embeddings")
    qx = (
        emb.select("vec_id", F.posexplode("embedding").alias("pos", "x"))
        .select(
            "vec_id",
            "pos",
            F.round(F.col("x").cast("double") * F.lit(1e7))
            .cast("long")
            .alias("q"),
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    cset = qx.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").cast("long").alias("cid"), "pos", F.col("q").alias("qc")
    )
    diff = F.col("q") - F.col("qc")
    for _ in range(1, _KC_K):
        d = (
            qx.join(F.broadcast(cset), "pos")
            .groupBy("vec_id", "cid")
            .agg(F.sum(diff * diff).alias("d2"))
        )
        md = d.groupBy("vec_id").agg(F.min("d2").alias("mind2"))
        # global argmax, ties to the lowest vec_id: min of (-mind2, vec)
        win = md.agg(F.min(F.struct((-F.col("mind2")).alias("nd"), "vec_id")).alias("w")).select(
            F.col("w.vec_id").alias("vec_id")
        )
        # persist each round's center set: the next round's distance
        # table AND the union's left arm both consume it, and without
        # the persist the shared subtree re-executes exponentially
        # (the kcore1 lesson; measured 5.6s -> ~2s at sf0.1)
        # persist, NOT localCheckpoint (r14 A/B
        # git show 555704a:tools/ab_r14_swap{,2}.json: swap measured
        # 1.10/1.13 LOSS — the 4-round chain is shallow enough that the
        # checkpoint round-trip costs more than the lineage re-analysis
        # it saves)
        cset = cset.unionAll(
            qx.join(F.broadcast(win), "vec_id").select(
                F.col("vec_id").cast("long").alias("cid"),
                "pos",
                F.col("q").alias("qc"),
            )
        ).persist(StorageLevel.MEMORY_AND_DISK)
    d = (
        qx.join(F.broadcast(cset), "pos")
        .groupBy("vec_id", "cid")
        .agg(F.sum(diff * diff).alias("d2"))
    )
    best = d.groupBy("vec_id").agg(F.min(F.struct("d2", "cid")).alias("b"))
    centers = cset.select("cid").distinct()
    return (
        best.select(
            "vec_id",
            F.col("b.cid").alias("center_id"),
            F.col("b.d2").alias("dist2_scaled"),
        )
        .join(
            F.broadcast(centers.withColumnRenamed("cid", "vec_id").withColumn("__c", F.lit(1))),
            "vec_id",
            "left_outer",
        )
        .select(
            "vec_id",
            "center_id",
            "dist2_scaled",
            F.col("__c").isNotNull().alias("is_center"),
        )
    )


# --------------------------------------------------------------------------
# mmr1 — maximal marginal relevance diversified top-k
# --------------------------------------------------------------------------

_MMR_POOL = 20  # candidate pool (top-k by query relevance)
_MMR_SELECT = 5  # diversified picks
_MMR_LAM_SQL = "CAST(0.7 AS DOUBLE)"  # relevance weight
_MMR_MU_SQL = "CAST(0.3 AS DOUBLE)"  # redundancy weight — an INDEPENDENT
# literal, never computed as 1.0-0.7: DuckDB evaluates that in DECIMAL
# (exactly 0.3 -> double 0.2999...89) while Python/Spark compute it in
# IEEE (0.30000000000000004) — a real 1-ulp score divergence caught at
# sf0.01
_MMR_LAM = 0.7
_MMR_MU = 0.3

#: 6dp cosine between two unnested float vectors (decimal-summed dots)
_MMR_COS = """round(CAST(SUM(CAST(CAST(x AS DOUBLE) * CAST(y AS DOUBLE)
                   AS DECIMAL(28,14))) AS DOUBLE)
  / (sqrt(CAST(SUM(CAST(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)
                   AS DECIMAL(28,14))) AS DOUBLE))
     * sqrt(CAST(SUM(CAST(CAST(y AS DOUBLE) * CAST(y AS DOUBLE)
                   AS DECIMAL(28,14))) AS DOUBLE))), 6)"""


def _mmr1_oracle() -> str:
    lam, mu = _MMR_LAM_SQL, _MMR_MU_SQL
    ctes = [
        "q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)",
        f"""qp AS (
      SELECT e.vec_id, e.embedding, unnest(e.embedding) AS x, unnest(q.qv) AS y
      FROM embeddings e, q WHERE e.vec_id <> 0
    ),
    pool AS (
      SELECT vec_id, any_value(embedding) AS embedding, {_MMR_COS} AS rel
      FROM qp GROUP BY vec_id
      HAVING SUM(CAST(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)
                      AS DECIMAL(28,14))) > 0
         AND SUM(CAST(CAST(y AS DOUBLE) * CAST(y AS DOUBLE)
                      AS DECIMAL(28,14))) > 0
      ORDER BY rel DESC, vec_id LIMIT {_MMR_POOL}
    ),
    ppu AS (
      SELECT a.vec_id AS va, b.vec_id AS vb,
             unnest(a.embedding) AS x, unnest(b.embedding) AS y
      FROM pool a JOIN pool b ON a.vec_id <> b.vec_id
    ),
    pp AS (
      SELECT va, vb, {_MMR_COS} AS s FROM ppu GROUP BY va, vb
    ),
    sel1 AS (
      SELECT vec_id, 1 AS sel_order, rel, 0.0 AS redundancy
      FROM pool ORDER BY rel DESC, vec_id LIMIT 1
    )""",
    ]
    for i in range(2, _MMR_SELECT + 1):
        prev = f"sel{i - 1}"
        ctes.append(
            f"""cand{i} AS (
      SELECT p.vec_id, p.rel, max(pp.s) AS pen
      FROM pool p
      JOIN pp ON pp.va = p.vec_id
      JOIN {prev} s ON pp.vb = s.vec_id
      WHERE p.vec_id NOT IN (SELECT vec_id FROM {prev})
      GROUP BY 1, 2
    ),
    win{i} AS (
      SELECT vec_id, {i} AS sel_order, rel, pen AS redundancy
      FROM cand{i}
      ORDER BY ({lam} * rel) - ({mu} * pen) DESC, vec_id LIMIT 1
    ),
    sel{i} AS (SELECT * FROM {prev} UNION ALL SELECT * FROM win{i})"""
        )
    return materialized(
        "WITH "
        + ",\n    ".join(ctes)
        + f"""
    SELECT vec_id, CAST(sel_order AS INTEGER) AS sel_order,
           rel AS relevance, redundancy,
           ({lam} * rel) - ({mu} * redundancy) AS mmr_score
    FROM sel{_MMR_SELECT}"""
    )


@query("mmr1_diversified_topk", oracle=_mmr1_oracle())
def mmr1_diversified_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal marginal relevance (Carbonell & Goldstein SIGIR 1998,
    λ=0.7): diversified top-5 from the top-20 cosine candidates
    against the vec_id=0 query. Each round picks the candidate
    maximizing λ·rel(q,d) − (1−λ)·max_{s∈S} sim(d,s) — the standard
    redundancy-penalized selection for RAG context packing and
    exemplar picking, where plain top-k returns five near-copies.

    Scale shape: the ONLY corpus-sized work is the pool construction
    (brute-force cosine + TakeOrderedAndProject top-20 — see
    sim_cosine_topk; the IVF/LSH variants swap in unchanged). The
    pool persists at ≤20 rows; pairwise sims are a self-join of that
    bounded pool (≤380 pairs); each greedy round is a broadcast
    anti-join + one ≤20-row aggregate + a 1-row argmax that rejoins
    as a broadcast — nothing after the pool grows with the corpus.

    Determinism: relevance and pairwise sims are the 6dp decimal-dot
    cosines; the MMR score is (0.7·rel) − (0.3·pen) with fixed
    literal operands and operand order — bit-identical IEEE in both
    engines; every argmax tiebreaks on vec_id. The seed pick's
    redundancy is 0.0 (max over the empty set — the published
    convention)."""
    emb = load(spark, sf_dir, "embeddings")
    qvec = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    pool = (
        emb.filter(F.col("vec_id") != 0)
        .join(F.broadcast(qvec))
        .select(
            "vec_id",
            "embedding",
            cosine(F.col("embedding"), F.col("qv")).alias("rel"),
        )
        .filter(F.col("rel").isNotNull())
        .orderBy(F.col("rel").desc(), "vec_id")
        .limit(_MMR_POOL)
    )
    # r14: localCheckpoint instead of persist for the three
    # materialized stages — persist kept the 404-scan/5639-line
    # lineage alive through every greedy round's re-analysis (A/B
    # git show 555704a:tools/ab_r14_swap.json)
    pool = pin(pool)
    pa = pool.select(
        F.col("vec_id").alias("va"), F.col("embedding").alias("ea")
    )
    pb = pool.select(
        F.col("vec_id").alias("vb"), F.col("embedding").alias("eb")
    )
    pp = (
        pa.join(pb, F.col("va") != F.col("vb"))
        .select("va", "vb", cosine(F.col("ea"), F.col("eb")).alias("s"))
    )
    pp = pin(pp)
    sel = (
        pool.orderBy(F.col("rel").desc(), "vec_id")
        .limit(1)
        .select(
            "vec_id",
            F.lit(1).alias("sel_order"),
            "rel",
            F.lit(0.0).alias("redundancy"),
        )
    )
    for i in range(2, _MMR_SELECT + 1):
        sel_ids = sel.select("vec_id")
        cand = (
            pool.join(F.broadcast(sel_ids), "vec_id", "left_anti")
            .join(pp, F.col("vec_id") == F.col("va"))
            .join(
                F.broadcast(sel_ids.withColumnRenamed("vec_id", "vb")), "vb"
            )
            .groupBy("vec_id", "rel")
            .agg(F.max("s").alias("pen"))
        )
        score = (F.lit(_MMR_LAM) * F.col("rel")) - (F.lit(_MMR_MU) * F.col("pen"))
        win = (
            cand.select("vec_id", "rel", "pen", score.alias("score"))
            .agg(
                F.min(
                    F.struct(
                        (-F.col("score")).alias("ns"), "vec_id", "rel", "pen"
                    )
                ).alias("w")
            )
            .select(
                F.col("w.vec_id").alias("vec_id"),
                F.lit(i).alias("sel_order"),
                F.col("w.rel").alias("rel"),
                F.col("w.pen").alias("redundancy"),
            )
            # an empty cand round (pool exhausted) must contribute no
            # row, not a NULL-winner row from the global aggregate
            .filter(F.col("vec_id").isNotNull())
        )
        # persist each round's selection: sel_ids feeds TWO joins and
        # the union's left arm — unpersisted, the lazy chain re-runs
        # ~3x per round (the kcore1 lesson). FLOOR-BOUND, closed by
        # three A/Bs: (1) driver-side greedy over the collected pool —
        # faster in isolation (2.2s) but BIMODAL and slower under
        # full-headline JVM pressure (8.2s vs 5.2s median, 90% raw
        # spread, r7); (2) incremental-penalty restructure (one
        # broadcast winner per round, pen = greatest(pen, s(d, win)) —
        # fewer joins per round) measured 5.81s vs 5.45s current at
        # sf0.1, 5 interleaved passes, 2026-08-15 — no win, so the
        # cost is the 4 greedy rounds' tiny-stage scheduling, not join
        # count; (3) a single-plan higher-order-function fold (pool
        # and sims collapsed to 1-row arrays, rounds unrolled as
        # nested transform/filter expressions) hung in
        # analysis/evaluation even at 2 rounds — pathological for
        # nested lambdas at this depth. The in-plan join form stays:
        # ~1s/round scheduling floor at sf0.1, constant-bounded (pool
        # ≤20 rows) and independent of corpus size at 100 TB.
        sel = pin(sel.unionAll(win))
    lamc = F.lit(_MMR_LAM)
    return sel.select(
        "vec_id",
        F.col("sel_order").cast("int").alias("sel_order"),
        F.col("rel").alias("relevance"),
        "redundancy",
        ((lamc * F.col("rel")) - (F.lit(_MMR_MU) * F.col("redundancy"))).alias(
            "mmr_score"
        ),
    )


# --------------------------------------------------------------------------
# ks1 — exact two-sample Kolmogorov–Smirnov drift test
# --------------------------------------------------------------------------

#: dq3's naming-independent ref/cand split (source-name hash parity)
_KS_GRP_SQL = (
    "CASE WHEN ((("
    + CE_HASH64_SQL.format(h="md5('dq3|'||source)")
    + ") % 2) + 2) % 2 = 0 THEN 'ref' ELSE 'cand' END"
)

_KS_CRIT = "CAST(1.358 AS DOUBLE)"  # c(alpha) at alpha = 0.05

_KS1_SQL = f"""
WITH b AS (
  SELECT CAST(n_chars AS BIGINT) AS v,
         CAST(count(*) FILTER (WHERE {_KS_GRP_SQL} = 'ref') AS BIGINT) AS cr,
         CAST(count(*) FILTER (WHERE {_KS_GRP_SQL} = 'cand') AS BIGINT) AS cc
  FROM documents
  WHERE n_chars IS NOT NULL
  GROUP BY 1
),
cum AS (
  SELECT v,
         SUM(cr) OVER (ORDER BY v
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS fr,
         SUM(cc) OVER (ORDER BY v
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS fc
  FROM b
),
tot AS (
  SELECT CAST(SUM(cr) AS BIGINT) AS nr, CAST(SUM(cc) AS BIGINT) AS nc FROM b
),
gap AS (
  SELECT v, abs(fr * nc - fc * nr) AS g
  FROM cum CROSS JOIN tot
),
top AS (
  SELECT v AS argmax_value, CAST(g AS BIGINT) AS d_numerator
  FROM gap ORDER BY g DESC, v LIMIT 1
)
SELECT nr AS n_ref, nc AS n_cand, d_numerator, argmax_value,
       CAST(d_numerator AS DOUBLE)
         / nullif(CAST(nr AS DOUBLE) * CAST(nc AS DOUBLE), 0.0) AS ks_stat,
       {_KS_CRIT} * sqrt((CAST(nr AS DOUBLE) + CAST(nc AS DOUBLE))
                         / nullif(CAST(nr AS DOUBLE) * CAST(nc AS DOUBLE), 0.0))
         AS crit_value,
       CAST(d_numerator AS DOUBLE)
           / nullif(CAST(nr AS DOUBLE) * CAST(nc AS DOUBLE), 0.0)
         > {_KS_CRIT} * sqrt((CAST(nr AS DOUBLE) + CAST(nc AS DOUBLE))
                             / nullif(CAST(nr AS DOUBLE) * CAST(nc AS DOUBLE), 0.0))
         AS drift_detected
FROM top CROSS JOIN tot
"""


@query("ks1_ks_drift", oracle=_KS1_SQL)
def ks1_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact two-sample Kolmogorov–Smirnov test on the doc-length
    distribution between the ref/cand corpus halves (dq3's
    naming-independent source-hash split) — the order-statistic
    complement to dq3's binned chi-square: KS sees location/shape
    drift that binning smears, needs no bin-width choice, and is THE
    standard ingest-drift gate for continuous features. Surfaced: the
    exact sup-gap numerator, where it occurs, the KS statistic, and
    the large-sample α=0.05 decision (c(α)=1.358).

    Exactness: the sup over x of |F_ref(x) − F_cand(x)| is computed
    CROSS-MULTIPLIED — max |CR(x)·n_cand − CC(x)·n_ref| in BIGINT
    (counts ≤ 1e9 × 1e9 fits int64 with room) — so the argmax and the
    numerator are exact integers; floats appear only in the final
    one-division statistic and the (div, sqrt, mul, compare) critical
    value, each a single correctly-rounded IEEE step both engines
    share. NULL lengths are excluded by policy; NULL sources hash to
    the 'cand' arm on both engines.

    Scale shape: ONE map-side-combined groupBy on the length value
    builds both conditional count columns; the cumulative window runs
    over the DISTINCT-length spine (bounded by the length domain, not
    the corpus — the dq3 bins argument), and the totals fold in as a
    1-row broadcast aggregate. The final argmax is a LIMIT 1 over the
    spine."""
    from ..functions.dedup import ce_hash64 as _ce

    grp_ref = (
        ((_ce(F.concat(F.lit("dq3|"), F.col("source"))) % 2) + 2) % 2 == 0
    )
    b = (
        load(spark, sf_dir, "documents")
        .filter(F.col("n_chars").isNotNull())
        .select(F.col("n_chars").cast("long").alias("v"), grp_ref.alias("r"))
        .groupBy("v")
        .agg(
            F.count_if(F.coalesce(F.col("r"), F.lit(False))).alias("cr"),
            F.count_if(~F.coalesce(F.col("r"), F.lit(False))).alias("cc"),
        )
    )
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    cum = b.select(
        "v", F.sum("cr").over(w).alias("fr"), F.sum("cc").over(w).alias("fc")
    )
    tot = b.agg(F.sum("cr").alias("nr"), F.sum("cc").alias("nc"))
    gap = cum.join(F.broadcast(tot)).select(
        "v", F.abs(F.col("fr") * F.col("nc") - F.col("fc") * F.col("nr")).alias("g")
    )
    top = gap.orderBy(F.col("g").desc(), "v").limit(1).select(
        F.col("v").alias("argmax_value"), F.col("g").alias("d_numerator")
    )
    nrd = F.col("nr").cast("double")
    ncd = F.col("nc").cast("double")
    denom = F.nullif(nrd * ncd, F.lit(0.0))
    ks = F.col("d_numerator").cast("double") / denom
    crit = F.lit(1.358) * F.sqrt((nrd + ncd) / denom)
    return top.join(F.broadcast(tot)).select(
        F.col("nr").alias("n_ref"),
        F.col("nc").alias("n_cand"),
        "d_numerator",
        "argmax_value",
        ks.alias("ks_stat"),
        crit.alias("crit_value"),
        (ks > crit).alias("drift_detected"),
    )


# --------------------------------------------------------------------------
# ent1 — per-document token entropy (repetitiveness / gibberish gate)
# --------------------------------------------------------------------------

def _ent_ctes(rel: str, p: str = "") -> str:
    """The token-entropy CTE chain over relation ``rel`` (doc_id,
    text), names prefixed with ``p``; ends in ``{p}epd`` (doc_id,
    n_tokens, n_distinct, clogc). Shared by ent1 and cp2."""
    return f"""{p}etok AS (
  SELECT doc_id, unnest(regexp_extract_all(text, '\\S+')) AS tok
  FROM {rel}
),
{p}etf AS (
  SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS c
  FROM {p}etok GROUP BY 1, 2
),
{p}epd AS (
  SELECT doc_id,
         CAST(SUM(c) AS BIGINT) AS n_tokens,
         CAST(count(*) AS BIGINT) AS n_distinct,
         CAST(SUM(CAST(round(log2(CAST(c AS DOUBLE)), 6)
                       AS DECIMAL(18,6)) * c) AS DOUBLE) AS clogc
  FROM {p}etf GROUP BY doc_id
)"""


_ENT1_SQL = f"""
WITH {_ent_ctes("(SELECT doc_id, text FROM documents WHERE doc_id IS NOT NULL)")},
pd AS (SELECT * FROM epd)
SELECT doc_id, n_tokens, n_distinct,
       round(log2(CAST(n_tokens AS DOUBLE)), 6)
         - (clogc / CAST(n_tokens AS DOUBLE)) AS token_entropy,
       round(log2(CAST(n_distinct AS DOUBLE)), 6) AS max_entropy,
       (round(log2(CAST(n_tokens AS DOUBLE)), 6)
          - (clogc / CAST(n_tokens AS DOUBLE)))
         / nullif(round(log2(CAST(n_distinct AS DOUBLE)), 6), 0.0)
         AS entropy_ratio
FROM pd
"""


@query("ent1_token_entropy", oracle=_ENT1_SQL)
def ent1_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document Shannon entropy of the token distribution, with
    the normalized entropy ratio H / log2(|vocab|) — the classic
    repetitiveness/gibberish gate: templated spam scores near 0,
    natural prose near 1, and the ratio is length-independent where
    qc2's top-bigram share is not. Zero-token and NULL-id docs emit
    nothing (no distribution to score); single-distinct-token docs
    get a NULL ratio (max_entropy 0 — nullif on both engines).

    Determinism: computed via the identity
    H = log2(n) − (Σ c·log2 c)/n, chosen over the textbook
    −Σ p·log2 p SPECIFICALLY for parity: c·round(log2 c, 6) is an
    exact integer×DECIMAL(18,6) product (nothing to round — the
    naive p·log2 p form lands on exact 6dp halves for rational p,
    where Spark's shortest-decimal HALF_UP and DuckDB's binary
    rounding split, observed at 15/42 terms of one sf0.001 doc). The
    decimal sum is order-independent; the way out is one cast, one
    division and one subtraction — single correctly-rounded IEEE
    steps both engines share. Only ``log2`` itself is rounded (6dp,
    the t4/ret1 libm convention).

    Scale shape: the corpus crosses the wire once, map-side combined,
    into the (doc_id, token) tf groupBy; the second exchange (the
    per-doc rollup) carries only the COMPRESSED tf stream — one row
    per distinct (doc, token), already partially aggregated — never
    the token stream itself. Two exchanges total, asserted in
    tests/test_selection_plans.py."""
    return _entropy_per_doc(
        load(spark, sf_dir, "documents")
        .filter(F.col("doc_id").isNotNull())
        .select("doc_id", "text")
    )


def _entropy_per_doc(docs: DataFrame) -> DataFrame:
    """ent1's computation over an arbitrary (doc_id, text) relation —
    shared with the cp2 fused pipeline."""
    tf = (
        docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count("*").alias("c"))
    )
    pd_ = tf.groupBy("doc_id").agg(
        F.sum("c").alias("n_tokens"),
        F.count("*").alias("n_distinct"),
        F.sum(
            F.round(F.log2(F.col("c").cast("double")), 6).cast("decimal(18,6)")
            * F.col("c")
        )
        .cast("double")
        .alias("clogc"),
    )
    h = F.round(F.log2(F.col("n_tokens").cast("double")), 6) - (
        F.col("clogc") / F.col("n_tokens").cast("double")
    )
    max_h = F.round(F.log2(F.col("n_distinct").cast("double")), 6)
    return pd_.select(
        "doc_id",
        "n_tokens",
        "n_distinct",
        h.alias("token_entropy"),
        max_h.alias("max_entropy"),
        (h / F.nullif(max_h, F.lit(0.0))).alias("entropy_ratio"),
    )


# --------------------------------------------------------------------------
# ndcg1 — ANN ranking-quality evaluation (NDCG@k curve)
# --------------------------------------------------------------------------

_NDCG_K = 20  # evaluated list depth
_NDCG_PREFIX = 16  # Matryoshka prefix dims for the approximate ranker

#: 6dp cosine over a bounded unnest (x, y) pair stream — shared by the
#: exact and prefix arms
_NDCG_EXACT_CTES = f"""
q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
fp AS (
  SELECT e.vec_id, unnest(e.embedding) AS x, unnest(q.qv) AS y
  FROM embeddings e, q WHERE e.vec_id <> 0
),
fsim AS (
  SELECT vec_id, {_MMR_COS} AS sim FROM fp GROUP BY vec_id
  HAVING SUM(CAST(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)
                  AS DECIMAL(28,14))) > 0
     AND SUM(CAST(CAST(y AS DOUBLE) * CAST(y AS DOUBLE)
                  AS DECIMAL(28,14))) > 0
),
exact AS (
  SELECT vec_id,
         CAST(row_number() OVER (ORDER BY sim DESC, vec_id) AS INTEGER) AS rk
  FROM (SELECT * FROM fsim ORDER BY sim DESC, vec_id LIMIT {_NDCG_K}) t
),
pp2 AS (
  SELECT e.vec_id,
         unnest(e.embedding[1:{_NDCG_PREFIX}]) AS x,
         unnest(q.qv[1:{_NDCG_PREFIX}]) AS y
  FROM embeddings e, q WHERE e.vec_id <> 0
),
psim AS (
  SELECT vec_id, {_MMR_COS} AS sim FROM pp2 GROUP BY vec_id
  HAVING SUM(CAST(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)
                  AS DECIMAL(28,14))) > 0
     AND SUM(CAST(CAST(y AS DOUBLE) * CAST(y AS DOUBLE)
                  AS DECIMAL(28,14))) > 0
),
approx AS (
  SELECT vec_id,
         CAST(row_number() OVER (ORDER BY sim DESC, vec_id) AS INTEGER) AS rk
  FROM (SELECT * FROM psim ORDER BY sim DESC, vec_id LIMIT {_NDCG_K}) t
)"""

_NDCG1_SQL = f"""
WITH {_NDCG_EXACT_CTES},
gains AS (
  SELECT a.rk AS pos,
         CAST(round(CAST(COALESCE({_NDCG_K + 1} - e.rk, 0) AS DOUBLE)
                    / round(log2(CAST(a.rk + 1 AS DOUBLE)), 6), 6)
              AS DECIMAL(28,6)) AS g
  FROM approx a LEFT JOIN exact e ON a.vec_id = e.vec_id
),
igains AS (
  SELECT rk AS pos,
         CAST(round(CAST({_NDCG_K + 1} - rk AS DOUBLE)
                    / round(log2(CAST(rk + 1 AS DOUBLE)), 6), 6)
              AS DECIMAL(28,6)) AS g
  FROM exact
),
curve AS (
  SELECT g.pos AS k,
         CAST(SUM(g.g) OVER (ORDER BY g.pos
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
           AS dcg,
         CAST(SUM(i.g) OVER (ORDER BY g.pos
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
           AS idcg
  FROM gains g JOIN igains i ON g.pos = i.pos
)
SELECT k, dcg, idcg, dcg / nullif(idcg, 0.0) AS ndcg
FROM curve
"""


@query("ndcg1_ann_ranking_quality", oracle=_NDCG1_SQL)
def ndcg1_ann_ranking_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NDCG@k curve (Järvelin & Kekäläinen 2002) of the 16-dim
    Matryoshka-prefix cosine ranking against the exact full-dim
    ranking for the vec_id=0 query — the GRADED ranking-quality
    evaluation that emb4's boolean recall flags cannot express: it
    scores WHERE the approximate ranker puts the truly-relevant
    vectors, position by position. Relevance is the linear gain
    (k+1 − exact_rank, 0 outside the exact top-k); one row per depth
    1..k with cumulative DCG, ideal DCG, and their ratio.

    Scale shape: each arm is a corpus-wide cosine reduced by
    TakeOrderedAndProject to a k-row pool (see sim_cosine_topk); rank
    windows, the gain join, and the cumulative windows all run on
    bounded ≤k-row lists. The prefix arm reads the SAME cached scan —
    slicing the array costs no extra I/O; in a production layout the
    16-d prefix would be its own column and the arm would scan 4× less.

    Determinism: sims are 6dp decimal-dot cosines; gains are integer
    relevance over a 6dp-rounded log2 discount, rounded at 6dp and
    accumulated as DECIMAL (order-independent); the NDCG ratio is one
    IEEE division (nullif-guarded for the degenerate empty-exact
    case)."""
    emb = load_spread(spark, sf_dir, "embeddings")
    qvec = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    base = emb.filter(F.col("vec_id") != 0).join(F.broadcast(qvec))

    def arm(vec_expr, q_expr):
        pool = (
            base.select(
                "vec_id", cosine(vec_expr, q_expr).alias("sim")
            )
            .filter(F.col("sim").isNotNull())
            .orderBy(F.col("sim").desc(), "vec_id")
            .limit(_NDCG_K)
        )
        return pool.select(
            "vec_id",
            F.row_number()
            .over(Window.orderBy(F.col("sim").desc(), "vec_id"))
            .cast("int")
            .alias("rk"),
        )

    exact = arm(F.col("embedding"), F.col("qv"))
    pre = F.slice(F.col("embedding"), 1, _NDCG_PREFIX)
    qpre = F.slice(F.col("qv"), 1, _NDCG_PREFIX)
    approx = arm(pre, qpre)

    disc = F.round(F.log2((F.col("rk") + 1).cast("double")), 6)
    rel = F.coalesce(F.lit(_NDCG_K + 1) - F.col("erk"), F.lit(0))
    gains = (
        approx.join(
            exact.select(F.col("vec_id"), F.col("rk").alias("erk")),
            "vec_id",
            "left_outer",
        )
        .select(
            F.col("rk").alias("pos"),
            F.round(rel.cast("double") / disc, 6)
            .cast("decimal(28,6)")
            .alias("g"),
        )
    )
    igains = exact.select(
        F.col("rk").alias("pos"),
        F.round((F.lit(_NDCG_K + 1) - F.col("rk")).cast("double") / disc, 6)
        .cast("decimal(28,6)")
        .alias("ig"),
    )
    w = Window.orderBy("pos").rowsBetween(Window.unboundedPreceding, 0)
    curve = (
        gains.join(igains, "pos")
        .select(
            F.col("pos").alias("k"),
            F.sum("g").over(w).cast("double").alias("dcg"),
            F.sum("ig").over(w).cast("double").alias("idcg"),
        )
    )
    return curve.select(
        "k",
        "dcg",
        "idcg",
        (F.col("dcg") / F.nullif(F.col("idcg"), F.lit(0.0))).alias("ndcg"),
    )


# --------------------------------------------------------------------------
# domcap1 — per-source document cap (domain-cap downsampling)
# --------------------------------------------------------------------------

_DOMCAP_K = 50  # max docs kept per source

_DOMCAP_CE = CE_HASH64_SQL.format(h="md5('cap|'||CAST(doc_id AS VARCHAR))")

_DOMCAP1_SQL = f"""
WITH keyed AS (
  SELECT source, doc_id, n_chars, {_DOMCAP_CE} AS h
  FROM documents WHERE doc_id IS NOT NULL
),
ranked AS (
  SELECT source, doc_id, n_chars,
         row_number() OVER (PARTITION BY source ORDER BY h, doc_id) AS rk
  FROM keyed
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(*) FILTER (WHERE rk <= {_DOMCAP_K}) AS BIGINT) AS n_kept,
       CAST(count(*) FILTER (WHERE rk > {_DOMCAP_K}) AS BIGINT) AS n_dropped,
       count(*) > {_DOMCAP_K} AS cap_applied,
       CAST(COALESCE(sum(n_chars) FILTER (WHERE rk <= {_DOMCAP_K}), 0)
            AS BIGINT) AS kept_chars,
       CAST(COALESCE(sum(n_chars) FILTER (WHERE rk > {_DOMCAP_K}), 0)
            AS BIGINT) AS dropped_chars
FROM ranked
GROUP BY source
"""


@query("domcap1_source_cap", oracle=_DOMCAP1_SQL)
def domcap1_source_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source document cap (the domain-cap downsampling every
    web-scale curation pipeline applies so a handful of boilerplate
    farms can't dominate the mix — the CommonCrawl/C4 per-domain
    limit): keep at most ``_DOMCAP_K`` docs per source, selected by a
    deterministic content-independent hash rank (uniform over the
    source, reproducible across runs, growth-stable in expectation),
    and account for what the cap keeps/drops in docs and characters.

    Scale shape: one exchange on source feeds the per-source rank
    window and the rollup (same partitioning — Spark reuses it). A
    pathologically hot source concentrates its rank sort in one task;
    the snm1 range-partition + offset recipe is the documented
    fallback if a single domain outgrows an executor. NULL doc_ids
    are excluded by policy (their hash is NULL and cannot rank).

    Determinism: ranks are integer row_numbers over (md5-hash,
    doc_id); counts and character sums are exact BIGINTs (NULL
    n_chars sums coalesce to 0 on both engines)."""
    keyed = (
        load(spark, sf_dir, "documents")
        .filter(F.col("doc_id").isNotNull())
        .select(
            "source",
            "doc_id",
            "n_chars",
            ce_hash64(
                F.concat(F.lit("cap|"), F.col("doc_id").cast("string"))
            ).alias("h"),
        )
    )
    rk = F.row_number().over(Window.partitionBy("source").orderBy("h", "doc_id"))
    ranked = keyed.withColumn("rk", rk)
    kept = F.col("rk") <= _DOMCAP_K
    z = F.lit(0).cast("long")
    return ranked.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.count_if(kept).alias("n_kept"),
        F.count_if(~kept).alias("n_dropped"),
        (F.count("*") > _DOMCAP_K).alias("cap_applied"),
        F.coalesce(F.sum(F.when(kept, F.col("n_chars"))), z).alias("kept_chars"),
        F.coalesce(F.sum(F.when(~kept, F.col("n_chars"))), z).alias(
            "dropped_chars"
        ),
    )


# --------------------------------------------------------------------------
# zipf1 — per-source Zipf rank-frequency fit
# --------------------------------------------------------------------------

_ZIPF_R = 100  # top ranks fitted

#: ln rounded to 6dp, then scaled to an EXACT integer of micro-nats:
#: the double round(ln*1e6) sits within 1e-9 of an integer, so the
#: outer round-to-0dp can never land on a .5 boundary.
_ZIPF_LN6_SQL = "CAST(round(round(ln(CAST({v} AS DOUBLE)), 6) * 1e6) AS BIGINT)"

_ZIPF1_SQL = f"""
WITH tf AS (
  SELECT source, t.tok, CAST(count(*) AS BIGINT) AS c
  FROM (SELECT source, regexp_extract_all(text, '\\S+') AS l FROM documents),
       UNNEST(l) AS t(tok)
  GROUP BY source, t.tok
),
ranked AS (
  SELECT source, c,
         row_number() OVER (PARTITION BY source ORDER BY c DESC, tok) AS rk
  FROM tf
),
pts AS (
  SELECT source,
         {_ZIPF_LN6_SQL.format(v="rk")} AS x,
         {_ZIPF_LN6_SQL.format(v="c")} AS y
  FROM ranked WHERE rk <= {_ZIPF_R}
),
sums AS (
  SELECT source,
         CAST(count(*) AS BIGINT) AS r,
         CAST(SUM(x) AS BIGINT) AS sx,
         CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x * y) AS BIGINT) AS sxy,
         CAST(SUM(x * x) AS BIGINT) AS sxx,
         CAST(SUM(y * y) AS BIGINT) AS syy
  FROM pts GROUP BY source
)
SELECT source, r AS n_ranks,
       CAST(r * sxy - sx * sy AS DOUBLE)
         / nullif(CAST(r * sxx - sx * sx AS DOUBLE), 0.0) AS slope,
       -(CAST(r * sxy - sx * sy AS DOUBLE)
         / nullif(CAST(r * sxx - sx * sx AS DOUBLE), 0.0)) AS zipf_exponent,
       (CAST(r * sxy - sx * sy AS DOUBLE) * CAST(r * sxy - sx * sy AS DOUBLE))
         / nullif(CAST(r * sxx - sx * sx AS DOUBLE)
                  * CAST(r * syy - sy * sy AS DOUBLE), 0.0) AS r2
FROM sums
"""


@query("zipf1_rank_frequency_fit", oracle=_ZIPF1_SQL)
def zipf1_rank_frequency_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source Zipf law fit (Zipf 1949): OLS slope of ln(freq) on
    ln(rank) over the top-{r} vocabulary ranks, surfaced as the Zipf
    exponent (natural text ≈ 1) with the fit's r². A corpus slice
    whose exponent collapses toward 0 (flat — synthetic/shuffled
    vocab) or explodes (a few tokens dominate — template spam) fails
    the naturalness prior; pairs with div1/ent1 as the
    per-ingest lexical-health dashboard.

    Determinism: both logs are rounded to 6dp then scaled to EXACT
    integer micro-nats (the double is within 1e-9 of an integer, so
    the 0dp round has no boundary case); every OLS sum and the
    slope's numerator/denominator are exact BIGINT arithmetic
    (|x|,|y| ≤ 2e7 → all products ≤ ~4e18 at R=100); floats appear
    only in the final divisions — fixed-order IEEE steps both
    engines share. Rank ties break on the token string.

    Scale shape: ONE map-side-combined groupBy on (source, token) is
    the only corpus shuffle; the rank window runs over the compressed
    per-source vocabulary (not the corpus), prunes to {r} rows per
    source immediately, and the OLS rollup sees ≤ {r}·|sources|
    rows."""
    tf = (
        load(spark, sf_dir, "documents")
        .select("source", F.explode(tokens(F.col("text"))).alias("tok"))
        .groupBy("source", "tok")
        .agg(F.count("*").alias("c"))
    )
    rk = F.row_number().over(
        Window.partitionBy("source").orderBy(F.col("c").desc(), "tok")
    )

    def ln6(v):
        return (
            F.round(F.round(F.log(v.cast("double")), 6) * 1e6).cast("long")
        )

    pts = (
        tf.withColumn("rk", rk)
        .filter(F.col("rk") <= _ZIPF_R)
        .select("source", ln6(F.col("rk")).alias("x"), ln6(F.col("c")).alias("y"))
    )
    sums = pts.groupBy("source").agg(
        F.count("*").alias("r"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    num = (F.col("r") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    den = F.nullif(
        (F.col("r") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double"),
        F.lit(0.0),
    )
    deny = (F.col("r") * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    slope = num / den
    return sums.select(
        "source",
        F.col("r").alias("n_ranks"),
        slope.alias("slope"),
        (-slope).alias("zipf_exponent"),
        ((num * num) / F.nullif(den * deny, F.lit(0.0))).alias("r2"),
    )


# --------------------------------------------------------------------------
# dp1 — differentially-private per-source counts (geometric mechanism)
# --------------------------------------------------------------------------

_DP_M = 1 << 52  # uniform grid: (k+1)/2^52 is EXACT in double

def _dp_u_sql(tag: str) -> str:
    h = CE_HASH64_SQL.format(h=f"md5('{tag}|'||source)")
    return (
        f"(CAST((((({h}) % {_DP_M}) + {_DP_M}) % {_DP_M}) + 1 AS DOUBLE)"
        f" / {float(_DP_M)})"
    )


_DP1_SQL = f"""
WITH n AS (
  SELECT source, CAST(count(*) AS BIGINT) AS c FROM documents GROUP BY source
),
noise AS (
  SELECT source, c,
         CAST(floor(-round(ln({_dp_u_sql("dp1")}), 6)) AS BIGINT)
           - CAST(floor(-round(ln({_dp_u_sql("dp2")}), 6)) AS BIGINT) AS z
  FROM n
)
SELECT source,
       c + z AS noisy_count,
       greatest(c + z, 0) AS noisy_count_clamped,
       CAST(1.0 AS DOUBLE) AS epsilon
FROM noise
"""


@query("dp1_dp_source_counts", oracle=_DP1_SQL)
def dp1_dp_source_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ε=1 differentially-private per-source document counts via the
    two-sided geometric mechanism (Ghosh–Roughgarden–Sundararajan
    2012 — the discrete, utility-optimal counterpart of Laplace
    noise): Z = G₁ − G₂ with Gᵢ ~ Geometric(1 − e^−ε), added to the
    exact count — the release shape a curation pipeline uses to
    publish corpus-composition dashboards without exposing exact
    per-domain counts (pairs with anon1/gdpr1 in the governance
    family). The raw noisy value is released alongside a
    clamped-at-zero convenience column (standard post-processing,
    privacy-free).

    Replayability vs privacy: the inverse-CDF draw
    Gᵢ = floor(−ln(uᵢ)) uses md5-derived uniforms on the 2^-52 grid
    ((k+1)/2^52 — numerator ≤ 2^52, so the division is EXACT in
    IEEE, and ln's 6dp rounding is shared), which makes the release
    deterministic and oracle-verifiable; a production release swaps
    in a secret per-release seed — determinism of the pipeline, not
    of the mechanism, is what is being proven here.

    Scale shape: one map-side-combined groupBy on source; the noise
    arithmetic is a per-group projection. Nothing else touches the
    corpus."""
    n = (
        load(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(F.count("*").alias("c"))
    )

    def u(tag):
        h = ce_hash64(F.concat(F.lit(f"{tag}|"), F.col("source")))
        k = ((h % _DP_M) + _DP_M) % _DP_M
        return (k + 1).cast("double") / F.lit(float(_DP_M))

    def g(tag):
        return F.floor(-F.round(F.log(u(tag)), 6)).cast("long")

    z = g("dp1") - g("dp2")
    noisy = F.col("c") + z
    return n.select(
        "source",
        noisy.alias("noisy_count"),
        F.greatest(noisy, F.lit(0).cast("long")).alias("noisy_count_clamped"),
        F.lit(1.0).alias("epsilon"),
    )


# --------------------------------------------------------------------------
# cp2 — fused round-7 curation pipeline: entropy gate → domain cap →
#       winnowing keep-first dedup → per-source manifest
# --------------------------------------------------------------------------

_CP2_MIN_RATIO = "CAST(0.5 AS DOUBLE)"  # entropy-ratio gate
_CP2_MIN_TOKENS = 5
_CP2_CAP = 50  # per-source cap among gated docs

_CP2_CE = CE_HASH64_SQL.format(h="md5('cp2|'||CAST(doc_id AS VARCHAR))")

_CP2_SQL = f"""
WITH base AS (
  SELECT doc_id, source, text FROM documents WHERE doc_id IS NOT NULL
),
{_ent_ctes("base")},
gate AS (
  SELECT b.doc_id, b.source, b.text, e.n_tokens
  FROM base b JOIN epd e ON b.doc_id = e.doc_id
  WHERE (round(log2(CAST(e.n_tokens AS DOUBLE)), 6)
           - (e.clogc / CAST(e.n_tokens AS DOUBLE)))
          / nullif(round(log2(CAST(e.n_distinct AS DOUBLE)), 6), 0.0)
        >= {_CP2_MIN_RATIO}
    AND e.n_tokens >= {_CP2_MIN_TOKENS}
),
capped AS (
  SELECT doc_id, source, text, n_tokens FROM (
    SELECT g.*,
           row_number() OVER (
             PARTITION BY source ORDER BY {_CP2_CE}, doc_id) AS rk
    FROM gate g) t
  WHERE rk <= {_CP2_CAP}
),
{_wn_sel_ctes("(SELECT doc_id, text FROM capped)", p="w")},
fps AS (
  SELECT DISTINCT doc_id, selkey // {_WN_POS} AS fp
  FROM wsel WHERE rn >= {_WN_W}
),
bmin AS (SELECT fp, min(doc_id) AS keep FROM fps GROUP BY fp),
dropped AS (
  SELECT DISTINCT f.doc_id
  FROM fps f JOIN bmin b ON f.fp = b.fp
  WHERE b.keep < f.doc_id
),
final AS (
  SELECT c.* FROM capped c
  WHERE NOT EXISTS (SELECT 1 FROM dropped d WHERE d.doc_id = c.doc_id)
),
n_in AS (SELECT source, CAST(count(*) AS BIGINT) AS n_input
         FROM base GROUP BY source),
n_g AS (SELECT source, CAST(count(*) AS BIGINT) AS n_gated
        FROM gate GROUP BY source),
n_c AS (SELECT source, CAST(count(*) AS BIGINT) AS n_capped
        FROM capped GROUP BY source),
n_f AS (SELECT source, CAST(count(*) AS BIGINT) AS n_final,
               CAST(COALESCE(sum(n_tokens), 0) AS BIGINT) AS final_tokens
        FROM final GROUP BY source)
SELECT i.source,
       i.n_input,
       COALESCE(g.n_gated, 0) AS n_gated,
       COALESCE(c.n_capped, 0) AS n_capped,
       COALESCE(f.n_final, 0) AS n_final,
       COALESCE(f.final_tokens, 0) AS final_tokens
FROM n_in i
LEFT JOIN n_g g ON g.source = i.source
LEFT JOIN n_c c ON c.source = i.source
LEFT JOIN n_f f ON f.source = i.source
"""


@query("cp2_selection_pipeline", oracle=_CP2_SQL)
def cp2_selection_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fused round-7 curation pipeline — the composition proof that
    the selection ops chain into ONE lazy plan (the cp1 precedent):
    (1) quality gate: keep docs with ent1 normalized token entropy
    ≥ 0.5 and ≥ 5 tokens (drops templated spam and fragments);
    (2) domain cap: at most 50 gated docs per source by deterministic
    hash rank (domcap1's rule, re-ranked AMONG SURVIVORS — capping
    before gating would waste cap slots on spam);
    (3) near-dup sweep: winnowing fingerprints (winnow1's selection)
    bucket the survivors; within each shared fingerprint bucket only
    the lowest doc_id survives (the cheap single-pass keep-first rule
    — transitive-closure dedup is d6's job);
    (4) per-source manifest of docs surviving each stage plus the
    final token supply — the number mix1/lr1 budget from.

    Scale shape: the gate is ent1's two exchanges; the cap windows
    over gated survivors only; winnowing (one doc_id exchange) runs
    on ≤ cap×|sources| docs; the fingerprint bucket join carries
    ~2/(w+1) of the survivors' k-grams. Stage counts are conditional
    rollups joined on the |sources|-sized spine. Docs sharing an id
    (forbidden upstream) would fan out at the gate join — the
    pipeline's declared grain is unique non-NULL doc_id.

    Determinism: every stage reuses its parent op's exact-parity
    arithmetic (ent1's decimal identity, md5 cap ranks, winnow's
    packed-integer argmin); counts are BIGINTs."""
    base = (
        load(spark, sf_dir, "documents")
        .filter(F.col("doc_id").isNotNull())
        .select("doc_id", "source", "text")
    )
    ent = _entropy_per_doc(base.select("doc_id", "text"))
    gate = (
        base.join(
            ent.select("doc_id", "n_tokens", "entropy_ratio"), "doc_id"
        )
        .filter(
            (F.col("entropy_ratio") >= 0.5)
            & (F.col("n_tokens") >= _CP2_MIN_TOKENS)
        )
        .select("doc_id", "source", "text", "n_tokens")
    )
    rk = F.row_number().over(
        Window.partitionBy("source").orderBy(
            ce_hash64(
                F.concat(F.lit("cp2|"), F.col("doc_id").cast("string"))
            ),
            "doc_id",
        )
    )
    # NOT pinned (r14 A/B,
    # git show 555704a:tools/ab_r14_pin{,2,3,4}.json: 1.04/0.98/0.93/
    # 1.02 — no consistent win): the winnow chain, anti-join and
    # n_capped count do replay the entropy gate, but the replays are
    # cheaper than checkpointing the text-carrying capped stage.
    capped = gate.withColumn("rk", rk).filter(F.col("rk") <= _CP2_CAP).drop("rk")
    wsel = _winnow_sel(capped.select("doc_id", "text"))
    fps = (
        wsel.filter(F.col("rn") >= _WN_W)
        .select("doc_id", F.expr(f"selkey div {_WN_POS}").alias("fp"))
        .distinct()
    )
    bmin = fps.groupBy("fp").agg(F.min("doc_id").alias("keep"))
    dropped = (
        fps.join(bmin, "fp")
        .filter(F.col("keep") < F.col("doc_id"))
        .select("doc_id")
        .distinct()
    )
    final = capped.join(dropped, "doc_id", "left_anti")
    n_in = base.groupBy("source").agg(F.count("*").alias("n_input"))
    n_g = gate.groupBy("source").agg(F.count("*").alias("n_gated"))
    n_c = capped.groupBy("source").agg(F.count("*").alias("n_capped"))
    z = F.lit(0).cast("long")
    n_f = final.groupBy("source").agg(
        F.count("*").alias("n_final"),
        F.coalesce(F.sum("n_tokens"), z).alias("final_tokens"),
    )
    return (
        n_in.join(n_g, "source", "left_outer")
        .join(n_c, "source", "left_outer")
        .join(n_f, "source", "left_outer")
        .select(
            "source",
            "n_input",
            F.coalesce(F.col("n_gated"), z).alias("n_gated"),
            F.coalesce(F.col("n_capped"), z).alias("n_capped"),
            F.coalesce(F.col("n_final"), z).alias("n_final"),
            F.coalesce(F.col("final_tokens"), z).alias("final_tokens"),
        )
    )


# --------------------------------------------------------------------------
# dd1 — DDSketch-style log-bucket quantile sketch (deterministic,
#       mergeable, self-verifying)
# --------------------------------------------------------------------------

_DD_G = 20001  # bucket width in micro-nats: ln(gamma) ~= 0.020001,
# i.e. gamma = (1+a)/(1-a) at relative accuracy a ~= 1%
_DD_PROBES = (250, 500, 750, 900, 990)  # permille quantiles

_DD_L_SQL = "CAST(round(round(ln(CAST(v AS DOUBLE)), 6) * 1e6) AS BIGINT)"

_DD1_SQL = f"""
WITH vals AS (
  SELECT l_extendedprice AS v FROM lineitem
  WHERE l_extendedprice > 1
),
lv AS (SELECT v, {_DD_L_SQL} AS L FROM vals),
bk AS (
  SELECT (L + {_DD_G - 1}) // {_DD_G} AS bucket, CAST(count(*) AS BIGINT) AS c
  FROM lv GROUP BY 1
),
tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n,
               CAST(count(*) AS BIGINT) AS n_buckets FROM bk),
bcum AS (
  SELECT bucket, SUM(c) OVER (ORDER BY bucket
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM bk
),
probes AS (
  SELECT q_pm, n, n_buckets,
         (q_pm * n + 999) // 1000 AS target_rank
  FROM (VALUES {", ".join(f"({q})" for q in _DD_PROBES)}) AS p(q_pm)
  CROSS JOIN tot
),
sk AS (
  SELECT p.q_pm, min(b.bucket) AS sketch_bucket
  FROM probes p JOIN bcum b ON b.cum >= p.target_rank
  GROUP BY p.q_pm
),
vcnt AS (SELECT v, CAST(count(*) AS BIGINT) AS c FROM vals GROUP BY v),
vcum AS (
  SELECT v, SUM(c) OVER (ORDER BY v
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM vcnt
),
tv AS (
  SELECT p.q_pm, min(c.v) AS true_value
  FROM probes p JOIN vcum c ON c.cum >= p.target_rank
  GROUP BY p.q_pm
)
SELECT p.q_pm, p.n, p.n_buckets, p.target_rank,
       s.sketch_bucket,
       {_DD_G} * (s.sketch_bucket - 1) AS bucket_lo_mnats,
       {_DD_G} * s.sketch_bucket AS bucket_hi_mnats,
       t.true_value,
       CAST(round(round(ln(CAST(t.true_value AS DOUBLE)), 6) * 1e6) AS BIGINT)
         AS true_mnats,
       {_DD_G} * (s.sketch_bucket - 1)
           < CAST(round(round(ln(CAST(t.true_value AS DOUBLE)), 6) * 1e6)
                  AS BIGINT)
         AND CAST(round(round(ln(CAST(t.true_value AS DOUBLE)), 6) * 1e6)
                  AS BIGINT)
           <= {_DD_G} * s.sketch_bucket AS in_bucket,
       CAST(0.020001 AS DOUBLE) AS log_bucket_width
FROM probes p
JOIN sk s ON s.q_pm = p.q_pm
JOIN tv t ON t.q_pm = p.q_pm
"""


@query("dd1_ddsketch_quantiles", oracle=_DD1_SQL)
def dd1_ddsketch_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DDSketch-style log-bucket quantile sketch (Masson, Rim & Lee
    VLDB 2019) over lineitem prices, DETERMINISTIC and mergeable by
    construction: bucket(v) = ceil(L(v)/G) where L is ln in exact
    integer micro-nats (the zipf1 scaling) and G = 20001 μnats
    (γ ≈ 1.0202, ~1% relative accuracy); bucket counts merge by plain
    addition — a groupBy-sum — so at 100 TB only the ~bounded bucket
    histogram (log-range/G rows, a few hundred for any monetary
    domain) ever shuffles or persists, never the corpus. Quantile
    answers are bucket ranges read off the cumulative histogram.

    Self-verifying oracle (the mg1 pattern): each probe row carries
    the EXACT quantile value (computed from the value-domain spine —
    verification work a production run would skip) and the boolean
    ``in_bucket`` asserting the sketch's structural guarantee — the
    true quantile's μnat image lies inside the sketch's answered
    bucket. It can never fail: bucket assignment is monotone in v and
    counts are exact, so the first bucket whose cumulative reaches
    the target rank IS the true quantile's bucket. All guarantee
    arithmetic is integer; ranks use the ceil convention
    (q·n + 999) // 1000. Values ≤ 1 are excluded by policy (the
    log-bucket domain; shift/scale first for general supports).

    Scale shape: ONE map-side-combined groupBy on the bucket key is
    the sketch; the probe joins are against the bounded histogram;
    the exact-verification arm groups on the value domain (bounded
    by price quantization, the mw1/ks1 argument)."""
    li = load(spark, sf_dir, "lineitem")
    vals = li.select(F.col("l_extendedprice").alias("v")).filter(F.col("v") > 1)
    L = (
        F.round(F.round(F.log(F.col("v").cast("double")), 6) * 1e6)
        .cast("long")
    )
    bk = (
        vals.select(L.alias("L"))
        .select(F.expr(f"(L + {_DD_G - 1}) div {_DD_G}").alias("bucket"))
        .groupBy("bucket")
        .agg(F.count("*").alias("c"))
    )
    tot = bk.agg(
        F.sum("c").alias("n"), F.count("*").alias("n_buckets")
    )
    w_b = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    bcum = bk.select("bucket", F.sum("c").over(w_b).alias("cum"))
    probes = tot.select(
        F.explode(F.array(*[F.lit(q) for q in _DD_PROBES])).alias("q_pm"),
        "n",
        "n_buckets",
    ).select(
        "q_pm",
        "n",
        "n_buckets",
        F.expr("(q_pm * n + 999) div 1000").alias("target_rank"),
    )
    sk = (
        F.broadcast(probes)
        .join(bcum, F.col("cum") >= F.col("target_rank"))
        .groupBy("q_pm")
        .agg(F.min("bucket").alias("sketch_bucket"))
    )
    vcnt = vals.groupBy("v").agg(F.count("*").alias("c"))
    w_v = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    vcum = vcnt.select("v", F.sum("c").over(w_v).alias("cum"))
    tv = (
        F.broadcast(probes.select("q_pm", "target_rank"))
        .join(vcum, F.col("cum") >= F.col("target_rank"))
        .groupBy("q_pm")
        .agg(F.min("v").alias("true_value"))
    )
    true_mnats = (
        F.round(F.round(F.log(F.col("true_value").cast("double")), 6) * 1e6)
        .cast("long")
    )
    lo = F.lit(_DD_G) * (F.col("sketch_bucket") - 1)
    hi = F.lit(_DD_G) * F.col("sketch_bucket")
    return (
        probes.join(sk, "q_pm")
        .join(tv, "q_pm")
        .select(
            "q_pm",
            "n",
            "n_buckets",
            "target_rank",
            "sketch_bucket",
            lo.alias("bucket_lo_mnats"),
            hi.alias("bucket_hi_mnats"),
            "true_value",
            true_mnats.alias("true_mnats"),
            ((lo < true_mnats) & (true_mnats <= hi)).alias("in_bucket"),
            F.lit(0.020001).alias("log_bucket_width"),
        )
    )


# --------------------------------------------------------------------------
# kmv1 — KMV (k-minimum-values) distinct-count sketch per source
# --------------------------------------------------------------------------

_KMV_K = 64
_KMV_M = 1 << 52  # hash grid: m/2^52 is exact in double

_KMV_CE = CE_HASH64_SQL.format(h="md5('kmv|'||sh)")

_KMV1_SQL = f"""
WITH toks AS (
  SELECT source, regexp_extract_all(text, '\\S+') AS t FROM documents
),
sh AS (
  SELECT DISTINCT source,
         concat_ws(' ', t[i], t[i+1], t[i+2]) AS sh
  FROM toks, UNNEST(range(1, greatest(len(t) - 1, 1))) AS u(i)
),
hashed AS (
  SELECT source, sh,
         CAST(((({_KMV_CE}) % {_KMV_M}) + {_KMV_M}) % {_KMV_M} AS DOUBLE)
           / {float(_KMV_M)} AS u
  FROM sh
),
ranked AS (
  SELECT source, u,
         row_number() OVER (PARTITION BY source ORDER BY u, sh) AS rk
  FROM hashed
),
sk AS (
  SELECT source,
         CAST(count(*) AS BIGINT) AS n_in_sketch,
         max(u) AS u_k
  FROM ranked WHERE rk <= {_KMV_K}
  GROUP BY source
),
exact AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_exact FROM sh GROUP BY source
)
SELECT e.source,
       e.n_exact,
       CAST({_KMV_K} AS INTEGER) AS k,
       s.n_in_sketch,
       s.u_k,
       CASE WHEN s.n_in_sketch < {_KMV_K}
            THEN CAST(s.n_in_sketch AS DOUBLE)
            ELSE CAST({_KMV_K - 1} AS DOUBLE) / s.u_k END AS est_distinct,
       (CASE WHEN s.n_in_sketch < {_KMV_K}
             THEN CAST(s.n_in_sketch AS DOUBLE)
             ELSE CAST({_KMV_K - 1} AS DOUBLE) / s.u_k END
        - CAST(e.n_exact AS DOUBLE)) / CAST(e.n_exact AS DOUBLE)
         AS rel_err,
       s.n_in_sketch < {_KMV_K} AS exact_regime
FROM exact e JOIN sk s ON s.source = e.source
"""


@query("kmv1_kmv_distinct", oracle=_KMV1_SQL)
def kmv1_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV / bottom-k distinct-count sketch (Bar-Yossef et al. 2002;
    Beyer et al. SIGMOD 2007's unbiased (k−1)/u_k estimator) over
    each source's distinct 3-shingle universe — the hll1 alternative
    whose state is VALUES, not register codes, which makes it (a)
    trivially mergeable by keeping the k smallest of a union, (b)
    directly intersectable for cross-source overlap estimation (the
    sketch sibling of ovr1's exact matrix), and (c) bit-exactly
    replayable in any engine, since "k smallest md5-derived hashes"
    is pure integer ordering. Sources with fewer than k distinct
    shingles report exactly (``exact_regime``); the measured signed
    relative error vs the in-query exact count (the verification arm
    a production run would skip) quantifies the k=64 accuracy.

    Determinism: hashes land on the exact 2^-52 grid ((m)/2^52 is
    exact in IEEE — the dp1 grid); ranks tiebreak on the shingle
    string; the estimator is one division, the error two fixed-order
    IEEE steps.

    Scale shape: the shingle DISTINCT and the per-source rank window
    both key on source/(source, shingle) — the window input is the
    compressed distinct-shingle stream, and only k rows per source
    survive it. At 100 TB the bottom-k per source would use the
    TakeOrdered-per-group rewrite (rank ≤ k prunes immediately);
    state is k doubles per source either way."""
    from ..functions.dedup import word_shingles

    sh = (
        load_spread(spark, sf_dir, "documents")
        .select(
            "source",
            F.explode(word_shingles(F.col("text"), 3)).alias("sh"),
        )
        .distinct()
    )
    u = (
        (
            (ce_hash64(F.concat(F.lit("kmv|"), F.col("sh"))) % _KMV_M)
            + _KMV_M
        )
        % _KMV_M
    ).cast("double") / F.lit(float(_KMV_M))
    ranked = sh.select("source", "sh", u.alias("u")).withColumn(
        "rk",
        F.row_number().over(Window.partitionBy("source").orderBy("u", "sh")),
    )
    sk = (
        ranked.filter(F.col("rk") <= _KMV_K)
        .groupBy("source")
        .agg(F.count("*").alias("n_in_sketch"), F.max("u").alias("u_k"))
    )
    exact = sh.groupBy("source").agg(F.count("*").alias("n_exact"))
    small = F.col("n_in_sketch") < _KMV_K
    est = F.when(small, F.col("n_in_sketch").cast("double")).otherwise(
        F.lit(float(_KMV_K - 1)) / F.col("u_k")
    )
    return exact.join(sk, "source").select(
        "source",
        "n_exact",
        F.lit(_KMV_K).cast("int").alias("k"),
        "n_in_sketch",
        "u_k",
        est.alias("est_distinct"),
        ((est - F.col("n_exact").cast("double")) / F.col("n_exact").cast("double")).alias(
            "rel_err"
        ),
        small.alias("exact_regime"),
    )


# --------------------------------------------------------------------------
# lpa1 — synchronous label propagation community detection
# --------------------------------------------------------------------------

_LPA_ITERS = 3


def _lpa1_oracle() -> str:
    """Unrolled-CTE replay of the synchronous rounds (gr1/km1
    precedent): labels are node ids (exact BIGINTs), each round's new
    label is the neighbor-label mode with ties to the SMALLEST label
    — an integer argmax both engines replay identically."""
    ctes = [
        """e0 AS (
      SELECT DISTINCT CAST(o.o_custkey * 2 AS BIGINT) AS src,
                      CAST(l.l_suppkey * 2 + 1 AS BIGINT) AS dst
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    ),
    e AS (SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0),
    lab0 AS (SELECT DISTINCT src AS node, src AS lbl FROM e)""",
    ]
    for i in range(1, _LPA_ITERS + 1):
        ctes.append(
            f"""cnt{i} AS (
      SELECT e.src AS node, l.lbl, CAST(count(*) AS BIGINT) AS c
      FROM e JOIN lab{i - 1} l ON e.dst = l.node
      GROUP BY 1, 2
    ),
    lab{i} AS (
      SELECT node, lbl FROM (
        SELECT node, lbl,
               row_number() OVER (
                 PARTITION BY node ORDER BY c DESC, lbl) AS rk
        FROM cnt{i}) t WHERE rk = 1
    )"""
        )
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"""
    SELECT CASE WHEN node % 2 = 0 THEN 'c' || CAST(node // 2 AS VARCHAR)
                ELSE 's' || CAST(node // 2 AS VARCHAR) END AS node,
           CASE WHEN lbl % 2 = 0 THEN 'c' || CAST(lbl // 2 AS VARCHAR)
                ELSE 's' || CAST(lbl // 2 AS VARCHAR) END AS community
    FROM lab{_LPA_ITERS}"""
    )


@query("lpa1_label_propagation", oracle=_lpa1_oracle())
def lpa1_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synchronous label propagation (Raghavan, Albert & Kumara 2007)
    over the undirected customer–supplier order graph, 3 unrolled
    rounds: every node adopts the most frequent label among its
    neighbors (ties → smallest label). Where connected components
    (d6) finds REACHABILITY clusters, LPA finds DENSITY communities —
    the grouping a curation pipeline uses to bucket entangled
    crawl/source neighborhoods before per-community sampling. Labels
    init to node ids on the same parity-disjoint long encoding as
    gr1 (customer 2k, supplier 2k+1), decoded to 'c…'/'s…' on the
    way out.

    Determinism: labels are exact BIGINTs; each round's mode is an
    integer (count desc, label asc) argmax — min(struct(-c, lbl)) in
    Spark, the identical ORDER BY in the oracle's unrolled CTEs.
    Synchronous update (all nodes step together) makes the recurrence
    a pure function of the previous round — no engine-dependent
    visit order, unlike the asynchronous published variant.

    Scale shape: the doubled edge list persists once, hash-partitioned
    on the join key by the same window trick as gr1; each round is
    ONE edge⋈label join + a (node, lbl) count + a (node) argmin, all
    map-side combinable; the whole 3-round chain stays one lazy
    plan (gr1's floor-bound A/B applies verbatim)."""
    from pyspark.storagelevel import StorageLevel

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
    # persist the doubled edge list HASH-PARTITIONED ON src: with the
    # labels broadcast, hash(src) satisfies the clustering of BOTH
    # per-round aggregates (groupBy(src,lbl) and groupBy(src) — a
    # hash(src) layout clusters any key list containing src), so every
    # round runs exchange-free on the cached layout. A/B at sf0.1,
    # 5 interleaved passes (2026-08-15): unpartitioned 4.91s median →
    # 2.10s with the repartition — the two per-round count-stream
    # exchanges were the remaining cost.
    e = (
        e0.unionAll(
            e0.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .repartition("src")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # labels are one row per NODE (≪ edges); broadcasting them keeps
    # the 2|E|-row edge list un-shuffled all three rounds (measured
    # 6.7s → 4.1s at sf0.1) — see functions/graph.py::lpa_propagate,
    # whose rounds=None twin iterates the same recurrence to the
    # synchronous fixed point (pytest-proven equal once converged).
    # The broadcast is size-gated via the MEMOIZED metadata-cheap
    # dimension bound (nodes <= customers + suppliers; one probe per
    # sf_dir per process — the bare counts cost 0.21s/call, A/B'd) so
    # the lazy rounds=N plan stays zero-extra-jobs — past
    # BROADCAST_LABEL_MAX_NODES the rounds run co-partitioned shuffle
    # joins instead.
    bc = dim_broadcast_gate(spark, sf_dir)
    lab = lpa_propagate(e, rounds=_LPA_ITERS, broadcast_labels=bc)

    decode = lambda col: F.when(  # noqa: E731
        F.col(col) % 2 == 0,
        F.concat(F.lit("c"), F.expr(f"CAST({col} div 2 AS STRING)")),
    ).otherwise(F.concat(F.lit("s"), F.expr(f"CAST({col} div 2 AS STRING)")))
    return lab.select(
        decode("node").alias("node"), decode("lbl").alias("community")
    )


# --------------------------------------------------------------------------
# ab1 — two-proportion z-test experiment readout
# --------------------------------------------------------------------------

#: chi-square(1) 95% critical value, times 1e6 for the exact integer gate
_AB_CRIT_MICRO = 3_841_459  # 3.841459 * 1e6

_AB1_SQL = f"""
WITH per AS (
  SELECT event_type,
         CAST(count(*) FILTER (WHERE user_id % 2 = 0) AS BIGINT) AS s_a,
         CAST(count(*) FILTER (WHERE user_id % 2 <> 0) AS BIGINT) AS s_b
  FROM events
  GROUP BY event_type
),
tot AS (
  SELECT CAST(sum(s_a) AS BIGINT) AS n_a, CAST(sum(s_b) AS BIGINT) AS n_b
  FROM per
),
z AS (
  SELECT event_type, s_a, s_b, n_a, n_b,
         CAST(n_a + n_b AS DECIMAL(38,0))
           * CAST(s_a * n_b - s_b * n_a AS DECIMAL(38,0))
           * CAST(s_a * n_b - s_b * n_a AS DECIMAL(38,0)) AS num,
         CAST(n_a AS DECIMAL(38,0)) * CAST(n_b AS DECIMAL(38,0))
           * CAST(s_a + s_b AS DECIMAL(38,0))
           * CAST(n_a + n_b - s_a - s_b AS DECIMAL(38,0)) AS den
  FROM per CROSS JOIN tot
)
SELECT event_type, n_a, s_a, n_b, s_b,
       CAST(s_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS p_a,
       CAST(s_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS p_b,
       CAST(num AS DOUBLE) / nullif(CAST(den AS DOUBLE), 0.0) AS z_squared,
       1000000 * num > {_AB_CRIT_MICRO} * den AS significant
FROM z
"""


@query("ab1_experiment_readout", oracle=_AB1_SQL)
def ab1_experiment_readout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z-test readout over the events stream: users are
    split into arms by id parity (the standard hash-bucket assignment
    an experimentation platform uses) and, for every event_type, the
    share of the arm's traffic that is that type is compared across
    arms — the launch-gate readout for "did the treatment shift the
    click/purchase/error mix?". Surfaced per type: arm totals and
    successes, the two proportions, z² (the squared z statistic, which
    is the chi-square(1) form of the test — sqrt-free by design), and
    the α=0.05 decision.

    Exactness: with d = s_a·n_b − s_b·n_a, the identity
    z² = N·d² / (n_a·n_b·S·(N−S)) (S = s_a+s_b, N = n_a+n_b) makes
    both numerator and denominator exact integers; they are built in
    DECIMAL(38,0) and the surfaced z² is ONE double division both
    engines perform on identical operands. The significance gate never
    touches floats at all: 1e6·num > 3841459·den in DECIMAL(38,0),
    the drift1/emb5 cross-multiplied-threshold pattern, so a z² that
    lands ON the 3.841459 boundary cannot flip between engines. Exact
    up to per-cell counts ~1e8 (d² then nears the 38-digit cap); a
    100 TB deployment with ~1e12-count cells would pre-aggregate per
    shard or accept the double form, where d's magnitude makes the
    1-ulp boundary risk irrelevant.

    Scale shape: ONE map-side-combined groupBy(event_type) over a
    two-column projection reduces the stream to ≤ n_types rows;
    arm totals fold back in as a 1-row broadcast aggregate. No second
    pass over the events table, no window, no skew exposure (arms are
    conditional counts, not group keys)."""
    ev = load(spark, sf_dir, "events").select(
        "event_type", (F.col("user_id") % 2 == 0).alias("a")
    )
    per = ev.groupBy("event_type").agg(
        F.count_if(F.col("a")).alias("s_a"),
        F.count_if(~F.col("a")).alias("s_b"),
    )
    tot = per.agg(
        F.sum("s_a").cast("long").alias("n_a"),
        F.sum("s_b").cast("long").alias("n_b"),
    )
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    d = F.col("s_a") * F.col("n_b") - F.col("s_b") * F.col("n_a")
    z = per.join(F.broadcast(tot)).select(
        "event_type",
        "s_a",
        "s_b",
        "n_a",
        "n_b",
        (dec(F.col("n_a") + F.col("n_b")) * dec(d) * dec(d)).alias("num"),
        (
            dec(F.col("n_a"))
            * dec(F.col("n_b"))
            * dec(F.col("s_a") + F.col("s_b"))
            * dec(F.col("n_a") + F.col("n_b") - F.col("s_a") - F.col("s_b"))
        ).alias("den"),
    )
    return z.select(
        "event_type",
        "n_a",
        "s_a",
        "n_b",
        "s_b",
        (F.col("s_a").cast("double") / F.col("n_a").cast("double")).alias("p_a"),
        (F.col("s_b").cast("double") / F.col("n_b").cast("double")).alias("p_b"),
        (
            F.col("num").cast("double")
            / F.nullif(F.col("den").cast("double"), F.lit(0.0))
        ).alias("z_squared"),
        (
            F.lit(1_000_000).cast("decimal(38,0)") * F.col("num")
            > F.lit(_AB_CRIT_MICRO).cast("decimal(38,0)") * F.col("den")
        ).alias("significant"),
    )


# --------------------------------------------------------------------------
# ab2 — mean-shift z-test on event value (continuous-metric A/B readout)
# --------------------------------------------------------------------------

_AB2_SQL = f"""
WITH per AS (
  SELECT event_type,
         CAST(count(*) FILTER (WHERE user_id % 2 = 0
                               AND value IS NOT NULL) AS BIGINT) AS n_a,
         CAST(coalesce(sum(CAST(round(value * 100) AS BIGINT))
                FILTER (WHERE user_id % 2 = 0), 0) AS DECIMAL(38,0)) AS s_a,
         CAST(coalesce(sum(CAST(round(value * 100) AS BIGINT)
                           * CAST(round(value * 100) AS BIGINT))
                FILTER (WHERE user_id % 2 = 0), 0) AS DECIMAL(38,0)) AS q_a,
         CAST(count(*) FILTER (WHERE user_id % 2 <> 0
                               AND value IS NOT NULL) AS BIGINT) AS n_b,
         CAST(coalesce(sum(CAST(round(value * 100) AS BIGINT))
                FILTER (WHERE user_id % 2 <> 0), 0) AS DECIMAL(38,0)) AS s_b,
         CAST(coalesce(sum(CAST(round(value * 100) AS BIGINT)
                           * CAST(round(value * 100) AS BIGINT))
                FILTER (WHERE user_id % 2 <> 0), 0) AS DECIMAL(38,0)) AS q_b
  FROM events
  WHERE value IS NOT NULL
  GROUP BY event_type
),
z AS (
  SELECT event_type, n_a, n_b, s_a, s_b,
         (s_a * CAST(n_b AS DECIMAL(38,0))
          - s_b * CAST(n_a AS DECIMAL(38,0))) AS d,
         (CAST(n_a AS DECIMAL(38,0)) * q_a - s_a * s_a) AS ss_a,
         (CAST(n_b AS DECIMAL(38,0)) * q_b - s_b * s_b) AS ss_b
  FROM per
),
zz AS (
  SELECT event_type, n_a, n_b, s_a, s_b,
         CASE WHEN n_a >= 2 AND n_b >= 2 THEN
           d * d * CAST(n_a - 1 AS DECIMAL(38,0))
                 * CAST(n_b - 1 AS DECIMAL(38,0))
         END AS num,
         CASE WHEN n_a >= 2 AND n_b >= 2 THEN
           ss_a * CAST(n_b AS DECIMAL(38,0)) * CAST(n_b AS DECIMAL(38,0))
                * CAST(n_b - 1 AS DECIMAL(38,0))
           + ss_b * CAST(n_a AS DECIMAL(38,0)) * CAST(n_a AS DECIMAL(38,0))
                  * CAST(n_a - 1 AS DECIMAL(38,0))
         END AS den
  FROM z
)
SELECT event_type, n_a, n_b,
       CAST(s_a AS DOUBLE) / nullif(CAST(n_a AS DOUBLE), 0.0)
         AS mean_cents_a,
       CAST(s_b AS DOUBLE) / nullif(CAST(n_b AS DOUBLE), 0.0)
         AS mean_cents_b,
       CAST(num AS DOUBLE) / nullif(CAST(den AS DOUBLE), 0.0) AS z_squared,
       CASE WHEN den > 0 THEN 1000000 * num > {_AB_CRIT_MICRO} * den
       END AS significant
FROM zz
"""


@query("ab2_mean_shift_ztest", oracle=_AB2_SQL)
def ab2_mean_shift_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean-shift z-test on event value — ab1's continuous-metric
    sibling, the other half of every experiment readout ("did the
    treatment move revenue per event?", not just the event mix).
    Users split into arms by id parity; for each event_type the
    per-event value means are compared with the large-sample
    two-sample z statistic, squared (chi-square(1) form, sqrt-free).

    Exactness: value is fixed-pointed to cents (exact 2dp corpus;
    round(value·100) is >1e6 ulps from every .5 boundary, the fe1
    argument), so the power sums s = Σc and q = Σc² are exact
    integers carried in DECIMAL(38,0) (q would overflow BIGINT on the
    adversarial 2e7 values). With d = s_a·n_b − s_b·n_a and
    ss_i = n_i·q_i − s_i² (n² × the biased variance), the identity
    z² = d²·(n_a−1)(n_b−1) / (ss_a·n_b²(n_b−1) + ss_b·n_a²(n_a−1))
    keeps numerator and denominator exact; the surfaced z² is ONE
    double division and the α=0.05 gate is the drift1/emb5
    cross-multiplied integer comparison (1e6·num > 3841459·den) —
    no float threshold. Arms with n < 2 (no variance estimate) and
    zero-pooled-variance cells yield NULL, never a fabricated
    decision; a singleton arm's ss is identically 0, so the algebra
    degrades without special cases. NULL values are excluded from
    both counts and sums on both engines; negative user ids land in
    arm b via the sign-of-dividend `%` both engines share.

    Scale shape: ONE map-side-combined groupBy(event_type) over a
    three-column projection; all six conditional power sums reduce in
    the same pass, so the stream is read once and no second shuffle,
    window, or join exists at all. DECIMAL(38,0) keeps the algebra
    exact up to per-cell Σc² ~ 1e19 with n ~ 1e9; a 100 TB deployment
    beyond that pre-aggregates per shard or accepts the double form,
    where d's magnitude dwarfs the 1-ulp boundary risk."""
    ev = load(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    a = F.col("user_id") % 2 == 0
    c = F.round(F.col("value") * 100).cast("long")
    dec = lambda x: x.cast("decimal(38,0)")  # noqa: E731
    zero = F.lit(0).cast("decimal(38,0)")
    per = ev.select("event_type", a.alias("a"), c.alias("c")).groupBy(
        "event_type"
    ).agg(
        F.count_if(F.col("a")).alias("n_a"),
        F.coalesce(F.sum(F.when(F.col("a"), dec(F.col("c")))), zero).alias("s_a"),
        F.coalesce(
            F.sum(F.when(F.col("a"), dec(F.col("c") * F.col("c")))), zero
        ).alias("q_a"),
        F.count_if(~F.col("a")).alias("n_b"),
        F.coalesce(F.sum(F.when(~F.col("a"), dec(F.col("c")))), zero).alias("s_b"),
        F.coalesce(
            F.sum(F.when(~F.col("a"), dec(F.col("c") * F.col("c")))), zero
        ).alias("q_b"),
    )
    d = F.col("s_a") * dec(F.col("n_b")) - F.col("s_b") * dec(F.col("n_a"))
    ss_a = dec(F.col("n_a")) * F.col("q_a") - F.col("s_a") * F.col("s_a")
    ss_b = dec(F.col("n_b")) * F.col("q_b") - F.col("s_b") * F.col("s_b")
    both = (F.col("n_a") >= 2) & (F.col("n_b") >= 2)
    z = per.select(
        "event_type",
        "n_a",
        "n_b",
        "s_a",
        "s_b",
        F.when(
            both, d * d * dec(F.col("n_a") - 1) * dec(F.col("n_b") - 1)
        ).alias("num"),
        F.when(
            both,
            ss_a * dec(F.col("n_b")) * dec(F.col("n_b")) * dec(F.col("n_b") - 1)
            + ss_b * dec(F.col("n_a")) * dec(F.col("n_a")) * dec(F.col("n_a") - 1),
        ).alias("den"),
    )
    return z.select(
        "event_type",
        "n_a",
        "n_b",
        (
            F.col("s_a").cast("double")
            / F.nullif(F.col("n_a").cast("double"), F.lit(0.0))
        ).alias("mean_cents_a"),
        (
            F.col("s_b").cast("double")
            / F.nullif(F.col("n_b").cast("double"), F.lit(0.0))
        ).alias("mean_cents_b"),
        (
            F.col("num").cast("double")
            / F.nullif(F.col("den").cast("double"), F.lit(0.0))
        ).alias("z_squared"),
        F.when(
            F.col("den") > 0,
            F.lit(1_000_000).cast("decimal(38,0)") * F.col("num")
            > F.lit(_AB_CRIT_MICRO).cast("decimal(38,0)") * F.col("den"),
        ).alias("significant"),
    )


# --------------------------------------------------------------------------
# kcore1 — k-core peeling on the customer–supplier graph
# --------------------------------------------------------------------------

_KCORE_K = 8
_KCORE_ROUNDS = 3

_KCORE_DECODE = """CASE WHEN {c} % 2 = 0 THEN 'c' || CAST({c} // 2 AS VARCHAR)
            ELSE 's' || CAST({c} // 2 AS VARCHAR) END"""


def _kcore1_oracle() -> str:
    """Unrolled-CTE replay of the peeling rounds (gr1/lpa1 precedent):
    all quantities are exact BIGINT degrees and set memberships."""
    ctes = [
        """e0 AS (
      SELECT DISTINCT CAST(o.o_custkey * 2 AS BIGINT) AS src,
                      CAST(l.l_suppkey * 2 + 1 AS BIGINT) AS dst
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    ),
    g0 AS (SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0)""",
    ]
    for i in range(1, _KCORE_ROUNDS + 1):
        ctes.append(
            f"""d{i} AS (
      SELECT src AS node, CAST(count(*) AS BIGINT) AS deg
      FROM g{i - 1} GROUP BY 1
    ),
    k{i} AS (SELECT node FROM d{i} WHERE deg >= {_KCORE_K}),
    g{i} AS (
      SELECT g.src, g.dst FROM g{i - 1} g
      WHERE g.src IN (SELECT node FROM k{i})
        AND g.dst IN (SELECT node FROM k{i})
    )"""
        )
    last = _KCORE_ROUNDS
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f""",
    fin AS (
      SELECT src AS node, CAST(count(*) AS BIGINT) AS core_degree
      FROM g{last} GROUP BY 1
    )
    SELECT {_KCORE_DECODE.format(c="node")} AS node, core_degree
    FROM fin"""
    )


@query("kcore1_kcore_peeling", oracle=_kcore1_oracle())
def kcore1_kcore_peeling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core decomposition by synchronous peeling (Seidman 1983;
    the distributed formulation of Montresor et al. 2013): repeatedly
    delete nodes of degree < k and the edges they carry. The k-core
    is the standard graph-quality filter a curation pipeline runs on
    link/citation graphs — spam and orphan pages fall out of low
    cores while densely-embedded content survives — and the densest-
    region complement to lpa1's communities and d6's components.
    Three unrolled rounds on the undirected customer–supplier order
    graph (gr1's parity-disjoint long encoding); surfaced: surviving
    nodes and their residual in-core degree.

    Determinism: degrees are exact BIGINTs and membership is a set
    predicate — no floats anywhere, so the unrolled-CTE oracle
    (the gr1/km1/lpa1 precedent) replays the recurrence bit-exactly.
    Bounded unrolling is the published synchronous schedule truncated
    at R=3 (each round strictly shrinks the edge set, so the result
    is a superset of the true k-core and exact once the peel
    converges — production iterates to fixed point with d6's
    control-plane convergence scalar).

    Scale shape: the doubled edge list persists once; each round is
    ONE map-side-combined degree aggregation plus two LEFT SEMI joins
    hash-partitioned on the same endpoint keys (src, then dst) — no
    windows, no collect, and the per-round edge set only shrinks, so
    the 100 TB cost is front-loaded in round 1. AQE re-plans each
    round's joins as survivors (often a small minority) drop below
    the broadcast threshold."""
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
    g0 = e0.unionAll(
        e0.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    # Each round's g is localCheckpoint'ed inside kcore_peel: keep/drop
    # AND the next round's join both consume it, and Spark plans are
    # trees — without the materialization the shared subtree
    # re-executes ~2^R times (measured 14.7s → 3.3s at sf0.1), and
    # without the LINEAGE TRUNCATION Catalyst re-analyzes a tree that
    # grows one anti-join layer per round (see kcore_peel docstring).
    # The drop set (nodes BELOW k — typically a small minority) ships
    # as two LEFT ANTI joins, which AQE turns into broadcasts once the
    # peel front shrinks. The rounds=None twin peels the same
    # recurrence to the exact k-core (kcore2 registry query +
    # pytest-proven equal once converged).
    g = kcore_peel(g0, _KCORE_K, rounds=_KCORE_ROUNDS)
    fin = g.groupBy("src").agg(F.count("*").cast("long").alias("core_degree"))
    node = F.col("src")
    decoded = F.when(
        node % 2 == 0,
        F.concat(F.lit("c"), F.expr("CAST(src div 2 AS STRING)")),
    ).otherwise(F.concat(F.lit("s"), F.expr("CAST(src div 2 AS STRING)")))
    return fin.select(decoded.alias("node"), "core_degree")


# --------------------------------------------------------------------------
# kcore2 — TRUE fixed-point k-core (the rounds=None convergence mode,
# registry-visible; verdict-r8 task 6)
# --------------------------------------------------------------------------

_KCORE2_K = 7
_KCORE2_PRED_SQL = "l.l_quantity <= 5"


def _kcore2_oracle() -> str:
    """Recursive-CTE replay of the peel TO CONVERGENCE: the working
    table carries each round's surviving (iter-tagged) edge set; the
    recursive term re-emits the survivors only when the round actually
    SHRANK, so the recursion halts exactly at the fixed point and
    ``max(iter)`` selects it. A NULL-keyed marker row travels with
    every round so the transition to an EMPTY fixed point is still
    representable (without it, a round whose survivors are empty emits
    no rows and max(iter) would wrongly select the last NON-empty
    round — caught live at sf0.001 during development). All quantities
    are exact BIGINT degrees and set memberships — nothing to round."""
    k = _KCORE2_K
    keep = (
        "SELECT src FROM peel WHERE src IS NOT NULL "
        f"GROUP BY src HAVING count(*) >= {k}"
    )
    shrank = f"""(SELECT count(*) FROM peel q
             WHERE q.src IN ({keep}) AND q.dst IN ({keep}))
          < (SELECT count(*) FROM peel WHERE src IS NOT NULL)"""
    return f"""
    WITH RECURSIVE e0 AS (
      SELECT DISTINCT CAST(o.o_custkey * 2 AS BIGINT) AS src,
                      CAST(l.l_suppkey * 2 + 1 AS BIGINT) AS dst
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      WHERE {_KCORE2_PRED_SQL}
    ),
    g0 AS (SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0),
    peel(iter, src, dst) AS (
      SELECT 0, src, dst FROM g0
      UNION ALL
      SELECT 0, NULL, NULL
      UNION ALL
      SELECT t.iter + 1, t.src, t.dst FROM (
        SELECT p.iter, p.src, p.dst
        FROM peel p
        WHERE p.src IN ({keep}) AND p.dst IN ({keep}) AND {shrank}
        UNION ALL
        SELECT m.iter, NULL, NULL FROM peel m
        WHERE m.src IS NULL AND {shrank}
      ) t
    ),
    fin AS (
      SELECT src AS node, CAST(count(*) AS BIGINT) AS core_degree
      FROM peel
      WHERE iter = (SELECT max(iter) FROM peel) AND src IS NOT NULL
      GROUP BY 1
    )
    SELECT {_KCORE_DECODE.format(c="node")} AS node, core_degree
    FROM fin"""


@query("kcore2_fixed_point_core", oracle=_kcore2_oracle())
def kcore2_fixed_point_core(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The EXACT k-core — ``kcore_peel(rounds=None)`` iterated to the
    fixed point, registry-visible (kcore1 truncates at R=3 and returns
    a superset; this is the production form its docstring promises).
    The k-core is the unique maximal subgraph of minimum degree ≥ k,
    so the result is schedule-independent: Spark's control-plane
    convergence loop (one drop-set count per round, per-round persist
    + eager release) and the oracle's recursive-CTE replay
    (iter-tagged working table, recursion halts when a round stops
    shrinking) MUST agree bit-for-bit — the convergence machinery
    itself is what the hash match certifies.

    Fixture shape: the customer–supplier graph restricted to
    low-quantity line items (l_quantity ≤ 5), k=7 — the one corner of
    this uniform-random bipartite graph where the peel both cascades
    AND leaves a non-empty core (random graphs have sharp all-or-
    nothing core thresholds; measured: 3 shrink rounds to a 34,260-
    edge core at sf0.1, 1 round to a 3,292-edge core at sf0.01, 3
    rounds to the EMPTY core at sf0.001 — the empty transition is the
    case the oracle's marker row exists for).

    Scale shape: identical to kcore1 per round (ONE map-side-combined
    degree aggregate + two LEFT ANTI joins on the persisted
    src-hash-partitioned layout; the shrinking drop set broadcasts via
    AQE); the convergence scalar is one BIGINT count per round. The
    number of rounds is data-dependent but each round strictly shrinks
    the edge set, so total cost is front-loaded in round 1 exactly as
    kcore1's docstring argues — at 100 TB the same peel runs with a
    per-round checkpoint cadence instead of MEMORY_AND_DISK persist."""
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_quantity"
    )
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    e0 = (
        li.filter(F.col("l_quantity") <= 5)  # keep in sync w/ _KCORE2_PRED_SQL
        .join(o, li.l_orderkey == o.o_orderkey)
        .select(
            (F.col("o_custkey") * 2).cast("long").alias("src"),
            (F.col("l_suppkey") * 2 + 1).cast("long").alias("dst"),
        )
        .distinct()
    )
    g0 = e0.unionAll(
        e0.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    g = kcore_peel(g0, _KCORE2_K, rounds=None)
    fin = g.groupBy("src").agg(F.count("*").cast("long").alias("core_degree"))
    node = F.col("src")
    decoded = F.when(
        node % 2 == 0,
        F.concat(F.lit("c"), F.expr("CAST(src div 2 AS STRING)")),
    ).otherwise(F.concat(F.lit("s"), F.expr("CAST(src div 2 AS STRING)")))
    return fin.select(decoded.alias("node"), "core_degree")


# --------------------------------------------------------------------------
# tau1 — Kendall-tau agreement between the lexical and semantic rankers
# --------------------------------------------------------------------------

_TAU1_SQL = f"""
WITH {_BM25_CTES},
lex_pool AS (
  SELECT doc_id, score FROM bm
  ORDER BY score DESC, doc_id
  LIMIT {_RRF_POOL}
),
lex AS (
  SELECT doc_id,
         CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS INTEGER)
           AS lex_rank
  FROM lex_pool
),
{_SEM_CTES},
common AS (
  SELECT lex.doc_id, lex.lex_rank, sem.sem_rank
  FROM lex JOIN sem ON lex.doc_id = sem.doc_id
),
pairs AS (
  SELECT CAST(a.lex_rank - b.lex_rank AS BIGINT)
           * CAST(a.sem_rank - b.sem_rank AS BIGINT) AS prod
  FROM common a JOIN common b ON a.doc_id < b.doc_id
),
agg AS (
  SELECT CAST(count(*) FILTER (WHERE prod > 0) AS BIGINT) AS concordant,
         CAST(count(*) FILTER (WHERE prod < 0) AS BIGINT) AS discordant
  FROM pairs
),
n AS (SELECT CAST(count(*) AS BIGINT) AS n_common FROM common)
SELECT n.n_common,
       n.n_common * (n.n_common - 1) // 2 AS n_pairs,
       agg.concordant, agg.discordant,
       CAST(agg.concordant - agg.discordant AS DOUBLE)
         / nullif(CAST(n.n_common * (n.n_common - 1) // 2 AS DOUBLE), 0.0)
         AS tau
FROM agg CROSS JOIN n
"""


@query("tau1_ranker_agreement", oracle=_TAU1_SQL)
def tau1_ranker_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall-tau rank agreement (Kendall 1938, tau-a) between the
    BM25 lexical ranker and the exact-cosine semantic ranker over the
    documents BOTH place in their top-``_RRF_POOL`` — the standard
    diagnostic BEFORE fusing rankers (rr1): tau near 1 means the
    rankers are redundant and fusion adds nothing; tau near 0 means
    they see genuinely different relevance and RRF will help. Also
    the regression gate for swapping a ranker implementation
    ("does the new ANN arm still order candidates like the exact
    one?" — the ndcg1 question asked between rankers instead of
    against labels).

    Exactness: ranks within each pool are distinct integers (score
    desc, doc_id tiebreak — no ties, so tau-a needs no tie terms);
    concordance is the SIGN of an integer product, and the surfaced
    tau is ONE double division of exact integers (C − D over
    n(n−1)/2). Intersections with n < 2 yield NULL tau, never a
    fabricated agreement.

    Scale shape: both arms reduce the corpus with
    TakeOrderedAndProject heaps (the rr1/_ranked_arms shape — no
    global sort); the pair enumeration is a nested-loop join of the
    ≤50-row intersection against its broadcast self (≤1225 pairs),
    then one 1-row aggregate. At 100 TB the pair cost is fixed by
    the pool constant, not the corpus."""
    lex, sem = _ranked_arms(spark, sf_dir)
    both = lex.join(sem, "doc_id").select("doc_id", "lex_rank", "sem_rank")
    a = both.select(
        F.col("doc_id").alias("id_a"),
        F.col("lex_rank").alias("la"),
        F.col("sem_rank").alias("sa"),
    )
    b = both.select(
        F.col("doc_id").alias("id_b"),
        F.col("lex_rank").alias("lb"),
        F.col("sem_rank").alias("sb"),
    )
    prod = (F.col("la") - F.col("lb")).cast("long") * (
        F.col("sa") - F.col("sb")
    ).cast("long")
    agg = (
        a.join(F.broadcast(b), F.col("id_a") < F.col("id_b"))
        .select(prod.alias("prod"))
        .agg(
            F.count_if(F.col("prod") > 0).alias("concordant"),
            F.count_if(F.col("prod") < 0).alias("discordant"),
        )
    )
    n = both.agg(F.count("*").cast("long").alias("n_common"))
    # integer `div`, not IEEE `/`+cast: exact for any pool size (the
    # double path is only exact while n(n-1) < 2^53 — advice r7)
    n_pairs = F.expr("(n_common * (n_common - 1)) div 2")
    return agg.join(F.broadcast(n)).select(
        "n_common",
        n_pairs.alias("n_pairs"),
        "concordant",
        "discordant",
        (
            (F.col("concordant") - F.col("discordant")).cast("double")
            / F.nullif(n_pairs.cast("double"), F.lit(0.0))
        ).alias("tau"),
    )


# --------------------------------------------------------------------------
# cpd1 — CUSUM change-point detection on the daily event-count series
# --------------------------------------------------------------------------

_CPD1_SQL = """
WITH d AS (
  SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS c
  FROM events WHERE ts IS NOT NULL
  GROUP BY 1
),
cum AS (
  SELECT day, c,
         CAST(SUM(c) OVER (ORDER BY day
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS g,
         CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS k
  FROM d
),
tot AS (
  SELECT CAST(count(*) AS BIGINT) AS nd, CAST(sum(c) AS BIGINT) AS s FROM d
),
cand AS (
  SELECT day, k, g, nd, s, abs(g * nd - k * s) AS dev
  FROM cum CROSS JOIN tot
  WHERE k < nd
),
top AS (
  SELECT * FROM cand ORDER BY dev DESC, day LIMIT 1
)
SELECT CAST(day AS VARCHAR) AS change_day, k AS days_before, g AS events_before,
       nd AS n_days, s AS n_events, dev AS dev_numerator,
       CAST(g AS DOUBLE) / CAST(k AS DOUBLE) AS mean_daily_before,
       CAST(s - g AS DOUBLE) / CAST(nd - k AS DOUBLE) AS mean_daily_after
FROM top
"""


@query("cpd1_changepoint_cusum", oracle=_CPD1_SQL)
def cpd1_changepoint_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Offline change-point detection on the daily event-count series
    — the CUSUM / binary-segmentation first split (Page 1954; Scott &
    Knott 1974): the day k whose prefix deviates most from the
    homogeneous-rate expectation, i.e. argmax_k |G_k − k·(S/N)| over
    proper splits (0 < k < N). This is the pipeline-monitoring
    primitive behind "when did the feed's volume regime change?" —
    the point drift1/ks1 (distribution drift) don't answer because
    they test WHETHER, not WHEN. Surfaced: the split day, both
    segment means, and the exact deviation numerator.

    Exactness: the deviation is cross-multiplied to |G_k·N − k·S| —
    exact BIGINTs (G ~ 1e12 daily-aggregated events × N ~ 1e4 days
    stays far under 2^63), so the argmax is an integer comparison
    with ties broken on the earlier day; the two segment means are
    single double divisions of exact integers. No floats anywhere
    else, so both engines pick the identical day.

    Scale shape: ONE map-side-combined groupBy collapses the corpus
    to the day spine (bounded by the calendar, not the data — the
    ks1 argument); the cumulative window and the LIMIT-1 argmax run
    on that spine, and totals attach as a 1-row broadcast. At 100 TB
    the only corpus-sized work is the first aggregation."""
    d = (
        load(spark, sf_dir, "events")
        .filter(F.col("ts").isNotNull())
        .select(F.to_date("ts").alias("day"))
        .groupBy("day")
        .agg(F.count("*").cast("long").alias("c"))
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    cum = d.select(
        "day",
        F.sum("c").over(w).cast("long").alias("g"),
        F.row_number().over(Window.orderBy("day")).cast("long").alias("k"),
    )
    tot = d.agg(
        F.count("*").cast("long").alias("nd"), F.sum("c").cast("long").alias("s")
    )
    cand = (
        cum.join(F.broadcast(tot))
        .filter(F.col("k") < F.col("nd"))
        .select(
            "day",
            "k",
            "g",
            "nd",
            "s",
            F.abs(F.col("g") * F.col("nd") - F.col("k") * F.col("s")).alias("dev"),
        )
    )
    top = cand.orderBy(F.col("dev").desc(), "day").limit(1)
    return top.select(
        F.col("day").cast("string").alias("change_day"),
        F.col("k").alias("days_before"),
        F.col("g").alias("events_before"),
        F.col("nd").alias("n_days"),
        F.col("s").alias("n_events"),
        F.col("dev").alias("dev_numerator"),
        (F.col("g").cast("double") / F.col("k").cast("double")).alias(
            "mean_daily_before"
        ),
        (
            (F.col("s") - F.col("g")).cast("double")
            / (F.col("nd") - F.col("k")).cast("double")
        ).alias("mean_daily_after"),
    )


# --------------------------------------------------------------------------
# read1 — Flesch reading-ease readability scoring
# --------------------------------------------------------------------------

_READ_WORD_RE = r"\S+"
_READ_SENT_RE = r"[.!?]+"
_READ_SYL_RE = r"[aeiouyAEIOUY]+"

_READ1_SQL = f"""
WITH c AS (
  SELECT doc_id, source,
         CAST(len(regexp_extract_all(text, '{_READ_WORD_RE}')) AS BIGINT)
           AS n_words,
         CAST(len(regexp_extract_all(text, '{_READ_SENT_RE}')) AS BIGINT)
           AS n_sentences,
         CAST(len(regexp_extract_all(text, '{_READ_SYL_RE}')) AS BIGINT)
           AS n_syllable_groups
  FROM documents
),
r AS (
  SELECT doc_id, source, n_words, n_sentences, n_syllable_groups,
         CAST(n_words AS DOUBLE)
           / CAST(CASE WHEN n_sentences = 0 THEN 1 ELSE n_sentences END
                  AS DOUBLE) AS words_per_sentence,
         CAST(n_syllable_groups AS DOUBLE)
           / nullif(CAST(n_words AS DOUBLE), 0.0) AS syllables_per_word
  FROM c
)
SELECT doc_id, source, n_words, n_sentences, n_syllable_groups,
       words_per_sentence, syllables_per_word,
       CAST(206.835 AS DOUBLE)
         - CAST(1.015 AS DOUBLE) * words_per_sentence
         - CAST(84.6 AS DOUBLE) * syllables_per_word AS flesch,
       CASE
         WHEN CAST(206.835 AS DOUBLE)
                - CAST(1.015 AS DOUBLE) * words_per_sentence
                - CAST(84.6 AS DOUBLE) * syllables_per_word >= 90.0
           THEN 'very_easy'
         WHEN CAST(206.835 AS DOUBLE)
                - CAST(1.015 AS DOUBLE) * words_per_sentence
                - CAST(84.6 AS DOUBLE) * syllables_per_word >= 60.0
           THEN 'standard'
         WHEN CAST(206.835 AS DOUBLE)
                - CAST(1.015 AS DOUBLE) * words_per_sentence
                - CAST(84.6 AS DOUBLE) * syllables_per_word >= 30.0
           THEN 'difficult'
         WHEN CAST(206.835 AS DOUBLE)
                - CAST(1.015 AS DOUBLE) * words_per_sentence
                - CAST(84.6 AS DOUBLE) * syllables_per_word IS NOT NULL
           THEN 'very_difficult'
       END AS band
FROM r
"""


@query("read1_flesch_readability", oracle=_READ1_SQL)
def read1_flesch_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease scoring (Flesch 1948; Kincaid et al. 1975
    lineage) per document — the classic text-difficulty signal a
    curation pipeline mixes into quality gates (qc1) and curriculum
    ordering: 206.835 − 1.015·(words/sentence) − 84.6·(syllables/
    word). Syllables use the standard vowel-GROUP approximation
    counted on a case-inclusive ASCII class (no lower(): Unicode
    case folding is the one string op the two engines may disagree
    on for hostile text, and non-Latin scripts simply score 0
    syllable groups rather than corrupting the count).

    Exactness: the three counts are exact integers from the SAME RE2/
    Java-compatible patterns proven in drift1/div1 ('\\S+') plus two
    literal character classes; the score is division → two literal
    multiplies → two subtractions, every literal CAST(… AS DOUBLE) on
    the oracle side so DuckDB's decimal-literal parsing never
    produces a different constant (the mmr1 lesson). Zero sentences
    clamp to 1 (the published convention); zero words NULL the score
    via nullif, never a NaN-vs-NULL split; NULL text propagates NULL
    counts on both engines, and the band CASE falls through to NULL
    with it.

    Scale shape: a pure per-row projection — no shuffle, no window,
    no join; whole-stage codegen over the narrow (doc_id, source,
    text) scan. At 100 TB this is scan-bound, exactly as a
    readability pass should be."""
    docs = load(spark, sf_dir, "documents")
    cnt = lambda pat: F.size(  # noqa: E731
        F.regexp_extract_all(F.col("text"), F.lit(pat), F.lit(0))
    ).cast("long")
    c = docs.select(
        "doc_id",
        "source",
        cnt(_READ_WORD_RE).alias("n_words"),
        cnt(_READ_SENT_RE).alias("n_sentences"),
        cnt(_READ_SYL_RE).alias("n_syllable_groups"),
    )
    wps = F.col("n_words").cast("double") / F.when(
        F.col("n_sentences") == 0, F.lit(1)
    ).otherwise(F.col("n_sentences")).cast("double")
    spw = F.col("n_syllable_groups").cast("double") / F.nullif(
        F.col("n_words").cast("double"), F.lit(0.0)
    )
    r = c.select(
        "doc_id",
        "source",
        "n_words",
        "n_sentences",
        "n_syllable_groups",
        wps.alias("words_per_sentence"),
        spw.alias("syllables_per_word"),
    )
    flesch = (
        F.lit(206.835)
        - F.lit(1.015) * F.col("words_per_sentence")
        - F.lit(84.6) * F.col("syllables_per_word")
    )
    return r.select(
        "*",
        flesch.alias("flesch"),
        F.when(flesch >= 90.0, F.lit("very_easy"))
        .when(flesch >= 60.0, F.lit("standard"))
        .when(flesch >= 30.0, F.lit("difficult"))
        .when(flesch.isNotNull(), F.lit("very_difficult"))
        .alias("band"),
    )


# --------------------------------------------------------------------------
# heaps1 — vocabulary growth curve (Heaps'-law raw points)
# --------------------------------------------------------------------------

_HEAPS_BUCKETS = 10

_HEAPS1_SQL = f"""
WITH nn AS (
  SELECT CAST(count(*) AS BIGINT) AS n FROM documents WHERE doc_id IS NOT NULL
),
d AS (
  SELECT doc_id, text,
         CAST(floor(CAST({_HEAPS_BUCKETS} * doc_id AS DOUBLE)
                    / CAST(nn.n AS DOUBLE)) AS BIGINT) + 1 AS dec
  FROM documents CROSS JOIN nn
  WHERE doc_id IS NOT NULL
),
toks AS (
  SELECT dec, unnest(regexp_extract_all(text, '\\S+')) AS tok FROM d
),
firsts AS (
  SELECT tok, CAST(min(dec) AS BIGINT) AS fd FROM toks GROUP BY tok
),
vb AS (
  SELECT fd AS dec, CAST(count(*) AS BIGINT) AS new_types FROM firsts GROUP BY 1
),
tb AS (
  SELECT dec, CAST(count(*) AS BIGINT) AS toks FROM toks GROUP BY 1
),
db AS (
  SELECT dec, CAST(count(*) AS BIGINT) AS docs FROM d GROUP BY 1
),
j AS (
  SELECT db.dec, db.docs,
         CAST(coalesce(tb.toks, 0) AS BIGINT) AS toks,
         CAST(coalesce(vb.new_types, 0) AS BIGINT) AS new_types
  FROM db LEFT JOIN tb ON db.dec = tb.dec LEFT JOIN vb ON db.dec = vb.dec
),
cum AS (
  SELECT dec, new_types,
         CAST(SUM(docs) OVER w AS BIGINT) AS docs_cum,
         CAST(SUM(toks) OVER w AS BIGINT) AS tokens_cum,
         CAST(SUM(new_types) OVER w AS BIGINT) AS vocab_cum
  FROM j
  WINDOW w AS (ORDER BY dec ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT dec AS checkpoint, docs_cum, tokens_cum, vocab_cum, new_types,
       CAST(vocab_cum AS DOUBLE) / nullif(CAST(tokens_cum AS DOUBLE), 0.0)
         AS type_token_ratio
FROM cum
"""


@query("heaps1_vocab_growth", oracle=_HEAPS1_SQL)
def heaps1_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary growth curve — the raw (tokens seen, distinct types
    seen) points behind Heaps'/Herdan's law V(n) = K·n^β, sampled at
    ten arrival-order checkpoints: the corpus-health curve that tells
    a data buyer whether MORE of this feed still adds vocabulary
    (curve still rising ⇒ new content) or has saturated (plateau ⇒
    duplicates/templates — cross-check d1/d3). The fitted exponent
    needs log-log regression (libm, banned by the cross-engine
    rules); the surfaced curve is the exact sufficient statistic, and
    new_types per checkpoint is its discrete derivative.

    Checkpoints are doc_id RANGES (floor(10·id/N)+1 — one double
    multiply, divide, floor, identical IEEE in both engines), NOT a
    global rank: arrival order is the id order here, and an id-range
    split needs no corpus-wide row_number window (the snm1
    single-partition-window trap). Cumulative distinctness never
    re-scans prefixes: each type charges only its FIRST checkpoint
    (min(dec) per token), and the running sum over the ≤10-row
    checkpoint spine reconstructs every prefix's exact vocabulary.
    NULL doc_ids are excluded by policy on both engines (the two
    engines order NULLs differently in window frames); NULL text
    contributes zero tokens but still counts as an arrived doc.

    Scale shape: ONE token-key shuffle (map-side-combined min per
    type) after the explode; docs/tokens per checkpoint are map-side
    counts; windows run on the 10-row spine. Type-token ratio is one
    double division of exact BIGINTs."""
    docs = load(spark, sf_dir, "documents").filter(F.col("doc_id").isNotNull())
    nn = docs.agg(F.count("*").cast("long").alias("n"))
    d = docs.join(F.broadcast(nn)).select(
        "text",
        (
            F.floor(
                (F.lit(_HEAPS_BUCKETS) * F.col("doc_id")).cast("double")
                / F.col("n").cast("double")
            ).cast("long")
            + 1
        ).alias("dec"),
    )
    toks = d.select(
        "dec", F.explode(tokens(F.col("text"))).alias("tok")
    )
    vb = (
        toks.groupBy("tok")
        .agg(F.min("dec").cast("long").alias("fd"))
        .groupBy(F.col("fd").alias("dec"))
        .agg(F.count("*").cast("long").alias("new_types"))
    )
    tb = toks.groupBy("dec").agg(F.count("*").cast("long").alias("toks"))
    db = d.groupBy("dec").agg(F.count("*").cast("long").alias("docs"))
    j = (
        db.join(tb, "dec", "left_outer")
        .join(vb, "dec", "left_outer")
        .select(
            "dec",
            "docs",
            F.coalesce(F.col("toks"), F.lit(0)).cast("long").alias("toks"),
            F.coalesce(F.col("new_types"), F.lit(0))
            .cast("long")
            .alias("new_types"),
        )
    )
    w = Window.orderBy("dec").rowsBetween(Window.unboundedPreceding, 0)
    cum = j.select(
        F.col("dec").alias("checkpoint"),
        "new_types",
        F.sum("docs").over(w).cast("long").alias("docs_cum"),
        F.sum("toks").over(w).cast("long").alias("tokens_cum"),
        F.sum("new_types").over(w).cast("long").alias("vocab_cum"),
    )
    return cum.select(
        "checkpoint",
        "docs_cum",
        "tokens_cum",
        "vocab_cum",
        "new_types",
        (
            F.col("vocab_cum").cast("double")
            / F.nullif(F.col("tokens_cum").cast("double"), F.lit(0.0))
        ).alias("type_token_ratio"),
    )


# --------------------------------------------------------------------------
# emb6 — per-dimension embedding statistics (normalization/whitening prep)
# --------------------------------------------------------------------------

_EMB6_SQL = """
WITH el AS (
  SELECT CAST(i AS BIGINT) AS dim,
         CAST(embedding[i] AS DOUBLE) AS x
  FROM embeddings, UNNEST(range(1, len(embedding) + 1)) AS u(i)
),
s AS (
  SELECT dim,
         CAST(count(*) AS BIGINT) AS n,
         SUM(CAST(round(x * 1e14) AS BIGINT)) AS sd,
         SUM(CAST(round(x * x * 1e14) AS BIGINT)) AS qd,
         min(x) AS min_x,
         max(x) AS max_x
  FROM el GROUP BY dim
),
s2 AS (
  SELECT dim, n, min_x, max_x, sd, qd,
         CAST(power(10, greatest(least(
           length(CAST(abs(sd) AS VARCHAR)) - 15, 22), 0)) AS HUGEINT) AS psd,
         CAST(power(10, greatest(least(
           length(CAST(abs(qd) AS VARCHAR)) - 15, 22), 0)) AS HUGEINT) AS pqd
  FROM s
),
s3 AS (
  SELECT dim, n, min_x, max_x, psd, pqd,
         CAST(sign(sd) AS HUGEINT) * (abs(sd) // psd) AS sdt,
         qd // pqd AS qdt
  FROM s2
),
s4 AS (
  SELECT dim, n, min_x, max_x,
         CAST(sdt AS DOUBLE) * CAST(psd AS DOUBLE)
           / CAST(n AS DOUBLE) / 1e14 AS mean,
         CAST(qdt AS DOUBLE) * CAST(pqd AS DOUBLE)
           / CAST(n AS DOUBLE) / 1e14 AS m2
  FROM s3
)
SELECT dim, n, mean, m2 - mean * mean AS var_pop, min_x, max_x
FROM s4
"""


@query("emb6_dimension_stats", oracle=_EMB6_SQL)
def emb6_dimension_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension embedding statistics over the whole corpus —
    mean, population variance, min, max for each of the 64 dims: the
    prep table every normalization/whitening step consumes
    (mean-centering, per-dim scaling, dead-dimension detection — a
    dim whose variance ~0 carries no signal and is the first to prune
    before PQ/Matryoshka truncation, cross-check pq1/emb4). emb2/emb5
    aggregate per CLUSTER; this is the corpus-level marginal.

    Exactness: each element (exact float32→double) and its square are
    fixed-pointed by round(··1e14)→BIGINT — the dc3/cos-pair recipe
    (plans/curation.py _LONG_PROD), the ONE double→integer path both
    engines share (a direct double→DECIMAL(28,14) cast does NOT: Spark
    converts the exact binary value HALF_UP while DuckDB scales in
    double, and they split on ~1/500 float32 elements — measured on
    this corpus' dim 10). The per-dim sums are exact integers (summed
    past int64 in DECIMAL/HUGEINT); mean and E[x²] exit through the
    identical (cast, /n, /1e14) IEEE sequence and var = E[x²] − mean²
    is the same subtract/multiply in both engines. min/max are exact
    float comparisons. NULL embeddings contribute no elements on
    either engine (posexplode vs range-unnest both skip).

    Scale shape: ONE shuffle on the 64-value dim key after a
    map-side-combinable explode — partial sums collapse each
    partition to ≤64 rows before the exchange. Skew-free by
    construction (every vector feeds every dim equally). At 100 TB
    the cost is the scan plus a 64-row reduce."""
    emb = load(spark, sf_dir, "embeddings")
    el = emb.select(
        F.posexplode(F.col("embedding")).alias("pos", "xf")
    ).select(
        (F.col("pos") + 1).cast("long").alias("dim"),
        F.col("xf").cast("double").alias("x"),
    )
    lf = lambda c: F.round(c * F.lit(1e14)).cast("long").cast(  # noqa: E731
        "decimal(38,0)"
    )
    s = el.groupBy("dim").agg(
        F.count("*").cast("long").alias("n"),
        F.sum(lf(F.col("x"))).alias("sd"),
        F.sum(lf(F.col("x") * F.col("x"))).alias("qd"),
        F.min("x").alias("min_x"),
        F.max("x").alias("max_x"),
    )

    # pca1's 15-digit truncation exit (advice r7): the exact integer
    # sums can exceed 2^53 at large n, and DuckDB's HUGEINT→DOUBLE
    # cast is not correctly rounded while Spark's BigDecimal path is.
    # Truncate each sum to its top 15 digits by an exact integer 10^k
    # division first — then every operand meeting a double (≤15-digit
    # integer, 10^k for k ≤ 22) casts exactly and the remaining IEEE
    # sequence is engine-identical.
    def tr(c):
        a = F.abs(c)
        k = F.greatest(
            F.least(F.length(a.cast("string")) - 15, F.lit(22)), F.lit(0)
        )
        p = F.pow(F.lit(10.0), k).cast("decimal(38,0)")
        t = ((a - a % p) / p).cast("decimal(38,0)")
        signed = F.when(c < 0, -t).otherwise(t)
        return signed.cast("double") * p.cast("double")

    mean = tr(F.col("sd")) / F.col("n").cast("double") / F.lit(1e14)
    m2 = tr(F.col("qd")) / F.col("n").cast("double") / F.lit(1e14)
    return s.select(
        "dim",
        "n",
        mean.alias("mean"),
        (m2 - mean * mean).alias("var_pop"),
        "min_x",
        "max_x",
    )


# --------------------------------------------------------------------------
# mem1 — memorization-risk scoring via corpus-duplicated n-grams
# --------------------------------------------------------------------------

_MEM_K = 8  # the dc1/GPT-3 shingle width


@query(
    "mem1_memorization_risk",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, regexp_extract_all(text, '\\S+') AS l FROM documents
    ),
    sh AS (
      SELECT doc_id,
             list_distinct([array_to_string(l[i:i+{_MEM_K}-1], ' ')
                            for i in range(1, len(l) - {_MEM_K} + 2)]) AS s
      FROM toks WHERE len(l) >= {_MEM_K}
    ),
    g AS (SELECT doc_id, unnest(s) AS shingle FROM sh),
    df AS (
      SELECT shingle, CAST(count(*) AS BIGINT) AS df FROM g GROUP BY 1
    ),
    per AS (
      SELECT g.doc_id,
             CAST(count(*) AS BIGINT) AS n_shingles,
             CAST(count(*) FILTER (WHERE df.df >= 2) AS BIGINT) AS n_shared
      FROM g JOIN df USING (shingle)
      GROUP BY g.doc_id
    )
    SELECT doc_id, n_shingles, n_shared,
           CAST(n_shared AS DOUBLE) / CAST(n_shingles AS DOUBLE)
             AS memorization_risk,
           2 * n_shared > n_shingles AS high_risk
    FROM per
    """,
)
def mem1_memorization_risk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Memorization-risk scoring: for every document, the fraction of
    its distinct 8-token shingles that occur in AT LEAST ONE OTHER
    document — the duplicated-text exposure signal behind Carlini et
    al. 2022/Lee et al. 2022's finding that repeated sequences are
    what models memorize. Where dc1 scores overlap against a FIXED
    eval set and sub1/d11 locate the spans, mem1 ranks training docs
    by how much of each one is corpus-redundant, the per-doc
    prioritization an upsampling/downweighting pass (ups1, ws1)
    consumes. Flagged high_risk past 50% via the exact integer gate
    2·n_shared > n_shingles (no float threshold).

    Exactness: shingles are distinct-per-doc, so a shingle's document
    frequency df counts DOCS; "shared" is the integer predicate
    df ≥ 2; the surfaced risk is ONE double division of exact BIGINTs.
    Docs with fewer than 8 tokens have no shingles and are excluded
    (the dc1 convention).

    Scale shape: explode → groupBy(shingle) df counts → join back on
    the SAME shingle key (Catalyst reuses the exchange — the df and
    join sides are co-partitioned) → one groupBy(doc_id). Raw
    shingles cross the wire for oracle-exact semantics; the 100 TB
    deployment swaps the join key to xxhash64(shingle) (8-byte keys,
    ~1e-8 collision odds at 1e10 distinct shingles — the d3/d4
    sketch argument) without touching the plan shape."""
    from pyspark.storagelevel import StorageLevel

    from ..functions.dedup import word_shingles

    docs = load(spark, sf_dir, "documents")
    sh = docs.select(
        "doc_id",
        F.explode(word_shingles(F.col("text"), _MEM_K)).alias("shingle"),
    ).persist(StorageLevel.MEMORY_AND_DISK)
    df = sh.groupBy("shingle").agg(F.count("*").cast("long").alias("df"))
    per = (
        sh.join(df, "shingle")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_shingles"),
            F.count_if(F.col("df") >= 2).cast("long").alias("n_shared"),
        )
    )
    return per.select(
        "doc_id",
        "n_shingles",
        "n_shared",
        (
            F.col("n_shared").cast("double")
            / F.col("n_shingles").cast("double")
        ).alias("memorization_risk"),
        (2 * F.col("n_shared") > F.col("n_shingles")).alias("high_risk"),
    )


# --------------------------------------------------------------------------
# gt1 — Good–Turing frequency spectrum and unseen-mass estimate
# --------------------------------------------------------------------------

_GT1_SQL = f"""
WITH toks AS (
  SELECT unnest(regexp_extract_all(text, '\\S+')) AS tok FROM documents
),
tc AS (
  SELECT tok, CAST(count(*) AS BIGINT) AS c FROM toks GROUP BY tok
),
tot AS (
  SELECT CAST(sum(c) AS BIGINT) AS n_tokens,
         CAST(count(*) AS BIGINT) AS n_types
  FROM tc
),
spec AS (
  SELECT c AS r, CAST(count(*) AS BIGINT) AS n_r FROM tc GROUP BY c
),
small AS (
  SELECT s.r, s.n_r, s2.n_r AS n_r_next
  FROM spec s LEFT JOIN spec s2 ON s2.r = s.r + 1
)
SELECT small.r, small.n_r,
       CAST((small.r + 1) * coalesce(small.n_r_next, 0) AS DOUBLE)
         / CAST(small.n_r AS DOUBLE) AS r_star,
       tot.n_tokens, tot.n_types,
       CAST((SELECT n_r FROM spec WHERE r = 1) AS DOUBLE)
         / CAST(tot.n_tokens AS DOUBLE) AS unseen_mass
FROM small CROSS JOIN tot
"""


@query("gt1_good_turing", oracle=_GT1_SQL)
def gt1_good_turing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Good–Turing frequency spectrum (Good 1953; Gale & Sampson
    1995's simple GT inputs): the count-of-counts table N_r — how
    many token types occur exactly r times — every r present, each
    with its smoothed count r* = (r+1)·N_(r+1)/N_r, plus corpus totals
    and the GT unseen-probability mass P₀ = N₁/N. This is the
    vocabulary-tail diagnostic behind smoothing, OOV-rate forecasting
    (oov1's forward-looking complement) and "how much singleton junk
    does this feed carry" (high N₁/N ⇒ noisy tokenization or fresh
    vocabulary — read with heaps1's growth curve). zipf1 fits the
    HEAD ranks; gt1 characterizes the TAIL.

    Exactness: counts and the spectrum are exact BIGINTs; r* and P₀
    are each ONE double division of exact integers ((r+1)·N_(r+1)
    stays far under 2^63 — N_(r+1) ≤ vocab ~1e9, r ≤ N ~1e13). Missing
    N_(r+1) (a gap in the spectrum) coalesces to 0 ⇒ r* = 0, the
    published convention for unsmoothed gaps.

    Scale shape: ONE token-key shuffle (map-side-combined counts) —
    shared conceptually with t9/sw1 — then a second map-side-combined
    groupBy on the count value collapses the vocab to the spectrum,
    whose row count is bounded by the number of DISTINCT frequency
    values ≤ √(2N) (their sum cannot exceed the corpus) — ~4.5M rows
    even at 100 TB; the N_(r+1) self-join and the totals broadcast
    run on that table."""
    toks = load(spark, sf_dir, "documents").select(
        F.explode(tokens(F.col("text"))).alias("tok")
    )
    tc = toks.groupBy("tok").agg(F.count("*").cast("long").alias("c"))
    tot = tc.agg(
        F.sum("c").cast("long").alias("n_tokens"),
        F.count("*").cast("long").alias("n_types"),
    )
    spec = tc.groupBy(F.col("c").alias("r")).agg(
        F.count("*").cast("long").alias("n_r")
    )
    nxt = spec.select((F.col("r") - 1).alias("r"), F.col("n_r").alias("n_r_next"))
    small = spec.join(nxt, "r", "left_outer")
    # always one row (NULL when no singleton types exist — matching
    # the oracle's scalar subquery), never an empty-join row wipe
    n1 = spec.agg(F.sum(F.when(F.col("r") == 1, F.col("n_r"))).alias("n_1"))
    return (
        small.join(F.broadcast(tot))
        .join(F.broadcast(n1))
        .select(
            "r",
            "n_r",
            (
                ((F.col("r") + 1) * F.coalesce(F.col("n_r_next"), F.lit(0)))
                .cast("double")
                / F.col("n_r").cast("double")
            ).alias("r_star"),
            "n_tokens",
            "n_types",
            (
                F.col("n_1").cast("double") / F.col("n_tokens").cast("double")
            ).alias("unseen_mass"),
        )
    )


# --------------------------------------------------------------------------
# pca1 — dominant principal direction via exact power iteration
# --------------------------------------------------------------------------

_PCA_Q = 10**6  # per-iteration fixed-point requantization scale


def _pca1_oracle() -> str:
    """Unrolled replay: the second-moment matrix M is summed from the
    SAME round(x_i·x_j·1e14)→BIGINT terms the Spark side's numpy
    stage produces (identical IEEE multiply order: (x_i·x_j)·1e14),
    and each iteration is exact integer M·q. Before ANY big integer
    meets a double, v and max|v| are truncated to their top 15 digits
    with exact integer arithmetic (digit-count-derived 10^k): DuckDB's
    HUGEINT→DOUBLE cast is not correctly rounded past 2^53 while
    Spark's BigDecimal path is — measured 1-ulp splits without the
    truncation."""
    tr = """mx{n} AS (SELECT max(abs(v)) AS mx FROM v{n}),
    p{n} AS (
      SELECT CAST(power(10.0, greatest(least(
               length(CAST(mx AS VARCHAR)) - 15, 22), 0)) AS HUGEINT) AS p,
             mx
      FROM mx{n}
    ),
    t{n} AS (
      SELECT i,
             CASE WHEN v < 0 THEN -(abs(v) // p) ELSE abs(v) // p END AS vt,
             mx // p AS mxt, p
      FROM v{n} CROSS JOIN p{n}
    )"""
    it = (
        """v{n} AS (
      SELECT m.i, SUM(m.m * q{pr}.q) AS v
      FROM m JOIN q{pr} ON m.j = q{pr}.i
      GROUP BY m.i
    ),
    """
        + tr
        + """,
    q{n} AS (
      SELECT i, CAST(round(CAST(vt AS DOUBLE)
                           / nullif(CAST(mxt AS DOUBLE), 0.0)
                           * {q}) AS BIGINT) AS q
      FROM t{n}
    )"""
    )
    return f"""
WITH el AS (
  SELECT vec_id, CAST(i AS BIGINT) AS i, CAST(embedding[i] AS DOUBLE) AS x
  FROM embeddings, UNNEST(range(1, len(embedding) + 1)) AS u(i)
),
m AS (
  SELECT a.i, b.i AS j,
         SUM(CAST(round(a.x * b.x * 1e14) AS BIGINT)) AS m
  FROM el a JOIN el b ON a.vec_id = b.vec_id
  GROUP BY 1, 2
),
v1 AS (SELECT i, SUM(m) AS v FROM m GROUP BY i),
{tr.format(n=1)},
q1 AS (
  SELECT i, CAST(round(CAST(vt AS DOUBLE)
                       / nullif(CAST(mxt AS DOUBLE), 0.0)
                       * {_PCA_Q}) AS BIGINT) AS q
  FROM t1
),
{it.format(n=2, pr=1, q=_PCA_Q)},
{it.format(n=3, pr=2, q=_PCA_Q)}
SELECT i AS dim,
       CAST(vt AS DOUBLE) / nullif(CAST(mxt AS DOUBLE), 0.0) AS component,
       CAST(mxt AS DOUBLE) * CAST(p AS DOUBLE) / {_PCA_Q} / 1e14
         AS eigenvalue_est
FROM t3
"""


@query("pca1_power_iteration", oracle=_pca1_oracle())
def pca1_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dominant principal direction of the corpus embedding second-
    moment matrix M = Σ x xᵀ by three power iterations (von Mises &
    Pollaczek-Geiringer 1929) — the spectral diagnostic behind
    embedding whitening, anisotropy measurement (embeddings collapsing
    toward one direction is the classic representation-degeneration
    symptom) and PCA-based dimension pruning (emb6's univariate stats
    can't see cross-dim structure; this is the first multivariate
    cut). Surfaced: the max-normalized direction and a Rayleigh-style
    top-eigenvalue estimate.

    Exactness: M's 64×64 entries are exact integer sums of
    round(x_i·x_j·1e14) terms (the dc3/emb6 fixed-point recipe — the
    numpy stage computes bit-identical terms to the oracle's SQL
    because both run the same (x_i·x_j)·1e14 IEEE sequence, and
    round-half-away is implemented as floor(p+0.5)/ceil(p−0.5), exact
    for |p| < 2^52). Each iteration is an exact integer mat-vec
    (DECIMAL(38,0) / HUGEINT — ≤1e20·1e6·64 ≈ 6e27 per term-sum).
    Each normalize step first TRUNCATES v and max|v| to their top 15
    digits by an exact integer 10^k division (k from the decimal
    digit count, p = 10^k exact in double for k ≤ 22): integers past
    2^53 must never meet a double directly — DuckDB's HUGEINT→DOUBLE
    cast is not correctly rounded while Spark's BigDecimal path is
    (measured 1-ulp component splits without this). The truncated
    operands cast exactly, so the divide/round(·1e6) requantization
    is engine-identical and the fixed-point recurrence never
    accumulates float error. An all-zero corpus propagates NULL
    components on both engines via nullif.

    Scale shape: the corpus is reduced by an Arrow ``mapInPandas``
    stage emitting ≤4096-row int64 partial outer-product sums per
    ≤1024-row chunk (the mg1 per-partition-summary pattern: only
    summaries shuffle, the corpus crosses the Python boundary once);
    everything after runs on the 4096-row M and 64-row vectors. The
    chunk cap keeps partials under int64 (1024·2.5e15 ≈ 2.6e18);
    Spark re-sums them in DECIMAL(38,0)."""
    from pyspark.storagelevel import StorageLevel

    from ..functions.sketch import pca_partial_gram

    # spread the single-row-group parquet across cores before the
    # Arrow stage (the exploded_shingles precedent), and persist the
    # 4096-row M: the iteration joins it three times and the gram
    # stage is the only corpus-sized work (6.7s -> 3.9s at sf0.1;
    # the remaining cost is the mandated per-pair rounding, which a
    # sum-then-round matmul would not reproduce)
    emb = load(spark, sf_dir, "embeddings")
    partials = spread_if_narrow(emb.select("embedding")).mapInPandas(
        pca_partial_gram(), "i long, j long, partial long"
    )
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    m = (
        partials.groupBy("i", "j")
        .agg(F.sum(dec(F.col("partial"))).alias("m"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    v = m.groupBy("i").agg(F.sum("m").alias("v"))

    def truncated(vdf: DataFrame) -> DataFrame:
        """(i, vt, mxt, p): v and max|v| truncated to ≤15 digits by an
        exact integer 10^k division so the later double casts are
        exact (k from mx's digit count; the decimal modulo makes the
        quotient integral, so Spark's scale-6 division is lossless)."""
        mx = vdf.agg(F.max(F.abs(F.col("v"))).alias("mx"))
        k = F.greatest(
            F.least(F.length(F.col("mx").cast("string")) - 15, F.lit(22)),
            F.lit(0),
        )
        with_p = vdf.join(F.broadcast(mx)).withColumn(
            "p", F.pow(F.lit(10.0), k).cast("decimal(38,0)")
        )
        tdiv = lambda c: (  # noqa: E731
            (c - c % F.col("p")) / F.col("p")
        ).cast("decimal(38,0)")
        absdiv = tdiv(F.abs(F.col("v")))
        return with_p.select(
            "i",
            F.when(F.col("v") < 0, -absdiv).otherwise(absdiv).alias("vt"),
            tdiv(F.col("mx")).alias("mxt"),
            "p",
        )

    def requant(vdf: DataFrame) -> DataFrame:
        t = truncated(vdf)
        return t.select(
            "i",
            F.round(
                F.col("vt").cast("double")
                / F.nullif(F.col("mxt").cast("double"), F.lit(0.0))
                * F.lit(_PCA_Q)
            )
            .cast("long")
            .alias("q"),
        )

    for _ in range(2):
        q = requant(v)
        v = (
            m.join(q.withColumnRenamed("i", "j"), "j")
            .groupBy("i")
            .agg(F.sum(F.col("m") * F.col("q")).alias("v"))
        )
    t = truncated(v)
    return t.select(
        F.col("i").alias("dim"),
        (
            F.col("vt").cast("double")
            / F.nullif(F.col("mxt").cast("double"), F.lit(0.0))
        ).alias("component"),
        (
            F.col("mxt").cast("double")
            * F.col("p").cast("double")
            / F.lit(float(_PCA_Q))
            / F.lit(1e14)
        ).alias("eigenvalue_est"),
    )


# --------------------------------------------------------------------------
# sea1 — hour-of-day seasonality profile per event type
# --------------------------------------------------------------------------

_SEA1_SQL = """
WITH h AS (
  SELECT event_type, CAST(hour(ts) AS BIGINT) AS hour_of_day,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM events
  WHERE ts IS NOT NULL AND value IS NOT NULL
  GROUP BY 1, 2
),
tot AS (
  SELECT event_type, CAST(sum(n) AS BIGINT) AS n_type,
         min(CASE WHEN rk = 1 THEN hour_of_day END) AS peak_hour
  FROM (
    SELECT event_type, hour_of_day, n,
           row_number() OVER (PARTITION BY event_type
                              ORDER BY n DESC, hour_of_day) AS rk
    FROM h
  ) GROUP BY 1
)
SELECT h.event_type, h.hour_of_day, h.n,
       CAST(h.n AS DOUBLE) / CAST(t.n_type AS DOUBLE) AS traffic_share,
       CAST(h.cents AS DOUBLE) / CAST(h.n AS DOUBLE) AS mean_cents,
       h.hour_of_day = t.peak_hour AS is_peak
FROM h JOIN tot t ON h.event_type = t.event_type
"""


@query("sea1_hourly_seasonality", oracle=_SEA1_SQL)
def sea1_hourly_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour-of-day seasonality profile per event type — the diurnal
    fingerprint an ops/monitoring pipeline baselines before alerting
    (cpd1 finds WHEN a regime changed; sea1 is the periodic shape
    that must first be subtracted so nightly troughs don't page
    anyone). Per (type, hour): volume, share of the type's traffic,
    mean value (exact cents), and the peak-hour flag (ties to the
    earliest hour).

    Exactness: counts and cent sums are exact BIGINTs off one
    conditional projection; traffic_share and mean_cents are single
    double divisions; the peak is an integer argmax (n DESC, hour
    ASC) — no floats decide anything. NULL ts/value rows are excluded
    by policy on both engines.

    Scale shape: ONE map-side-combined groupBy collapses the stream
    to ≤ types×24 rows; the peak window and totals run on that tiny
    table. Skew-free: hours are a bounded key set and the heavy
    reduction happens in the partial aggregates."""
    ev = (
        load(spark, sf_dir, "events")
        .filter(F.col("ts").isNotNull() & F.col("value").isNotNull())
        .select(
            "event_type",
            F.hour("ts").cast("long").alias("hour_of_day"),
            F.round(F.col("value") * 100).cast("long").alias("c"),
        )
    )
    h = ev.groupBy("event_type", "hour_of_day").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("c").cast("long").alias("cents"),
    )
    w = Window.partitionBy("event_type").orderBy(
        F.col("n").desc(), "hour_of_day"
    )
    tot = (
        h.select(
            "event_type",
            "hour_of_day",
            "n",
            F.row_number().over(w).alias("rk"),
        )
        .groupBy("event_type")
        .agg(
            F.sum("n").cast("long").alias("n_type"),
            F.min(F.when(F.col("rk") == 1, F.col("hour_of_day"))).alias(
                "peak_hour"
            ),
        )
    )
    return h.join(tot, "event_type").select(
        "event_type",
        "hour_of_day",
        "n",
        (F.col("n").cast("double") / F.col("n_type").cast("double")).alias(
            "traffic_share"
        ),
        (F.col("cents").cast("double") / F.col("n").cast("double")).alias(
            "mean_cents"
        ),
        (F.col("hour_of_day") == F.col("peak_hour")).alias("is_peak"),
    )


# --------------------------------------------------------------------------
# fresh1 — per-type data-freshness / staleness audit
# --------------------------------------------------------------------------

_FRESH_STALE_US = 86_400_000_000  # 1 day

_FRESH1_SQL = f"""
WITH ev AS (
  SELECT event_type, epoch_us(ts) AS t
  FROM events WHERE ts IS NOT NULL
),
per AS (
  SELECT event_type,
         CAST(count(*) AS BIGINT) AS n_events,
         CAST(min(t) AS BIGINT) AS first_us,
         CAST(max(t) AS BIGINT) AS last_us
  FROM ev GROUP BY 1
),
tot AS (SELECT CAST(max(t) AS BIGINT) AS corpus_last FROM ev)
SELECT event_type, n_events, first_us, last_us,
       tot.corpus_last - last_us AS staleness_us,
       tot.corpus_last - last_us > {_FRESH_STALE_US} AS is_stale,
       CAST(n_events AS DOUBLE) * 86400000000
         / nullif(CAST(last_us - first_us AS DOUBLE), 0.0) AS events_per_day
FROM per CROSS JOIN tot
"""


@query("fresh1_staleness_audit", oracle=_FRESH1_SQL)
def fresh1_staleness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-feed freshness audit: for every event type, its first/last
    event time (exact epoch microseconds), the staleness lag against
    the newest event anywhere in the corpus, a 1-day staleness flag,
    and the average arrival rate over the feed's own span — the
    ingest-health table a pipeline checks before trusting any
    downstream window (a feed whose last event is a day behind the
    rest means its connector died, and every as-of join silently
    serves stale features; cpd1 then pinpoints WHEN). Timestamps are
    surfaced as BIGINT micros, never engine-formatted datetimes.

    Exactness: min/max/lag are exact integer microseconds; the flag
    is an integer compare; events_per_day is the fixed IEEE sequence
    (cast, ·86400e6, /span) on exact operands, NULL for single-event
    feeds (zero span). NULL timestamps are excluded by policy.

    Scale shape: ONE map-side-combined groupBy to ≤ n_types rows plus
    a 1-row broadcast corpus max. Scan-bound at any scale."""
    ev = (
        load(spark, sf_dir, "events")
        .filter(F.col("ts").isNotNull())
        .select(
            "event_type",
            F.unix_micros(F.col("ts").cast("timestamp")).alias("t"),
        )
    )
    per = ev.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_events"),
        F.min("t").cast("long").alias("first_us"),
        F.max("t").cast("long").alias("last_us"),
    )
    tot = ev.agg(F.max("t").cast("long").alias("corpus_last"))
    return per.join(F.broadcast(tot)).select(
        "event_type",
        "n_events",
        "first_us",
        "last_us",
        (F.col("corpus_last") - F.col("last_us")).alias("staleness_us"),
        (
            F.col("corpus_last") - F.col("last_us") > _FRESH_STALE_US
        ).alias("is_stale"),
        (
            F.col("n_events").cast("double")
            * F.lit(86_400_000_000)
            / F.nullif(
                (F.col("last_us") - F.col("first_us")).cast("double"),
                F.lit(0.0),
            )
        ).alias("events_per_day"),
    )


# --------------------------------------------------------------------------
# phr1 — exact phrase-match retrieval (positional adjacency)
# --------------------------------------------------------------------------

_PHR_TOPK = 20

_PHR1_SQL = f"""
WITH toks AS (
  SELECT doc_id, regexp_extract_all(text, '\\S+') AS t FROM documents
),
big AS (
  SELECT doc_id, t[i] || ' ' || t[i+1] AS g
  FROM toks, UNNEST(range(1, greatest(len(t), 1))) AS u(i)
),
top1 AS (
  SELECT g AS phrase, CAST(count(*) AS BIGINT) AS corpus_freq
  FROM big GROUP BY g
  ORDER BY corpus_freq DESC, phrase LIMIT 1
),
hits AS (
  SELECT b.doc_id, t.phrase, t.corpus_freq,
         CAST(count(*) AS BIGINT) AS n_occurrences
  FROM big b JOIN top1 t ON b.g = t.phrase
  GROUP BY 1, 2, 3
)
SELECT doc_id, phrase, n_occurrences, corpus_freq
FROM hits
ORDER BY n_occurrences DESC, doc_id
LIMIT {_PHR_TOPK}
"""


@query("phr1_phrase_retrieval", oracle=_PHR1_SQL)
def phr1_phrase_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact phrase-match retrieval — the positional-adjacency
    primitive a bag-of-words ranker (ret1's BM25) cannot express:
    "the quick fox" must appear as CONSECUTIVE tokens, not as three
    scattered terms. The query phrase is derived deterministically as
    the corpus' top bigram (count desc, lexicographic tiebreak — the
    bpe1 winner rule lifted to words), then every document is scored
    by its exact adjacency count and the top 20 are returned. The
    same plan shape answers any externally-supplied phrase by
    replacing the 1-row phrase relation with a literal.

    Exactness: bigrams are exact strings off the shared '\\S+'
    tokenizer; all scores are integer counts; ranking ties break on
    doc_id. No floats at all.

    Scale shape: the bigram explode is narrow (zip_with over two
    shifted slices, the div1 form); the phrase winner is a map-side-
    combined groupBy + LIMIT 1; the retrieval join is a BROADCAST of
    the 1-row phrase against the bigram stream (no corpus shuffle —
    the filter happens map-side, then only matching rows aggregate),
    and the final top-k is TakeOrderedAndProject. In an IR deployment
    the bigram stream would be a materialized positional index keyed
    by gram — this is the query-time half of that plan."""
    docs = load_spread(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    n = F.size(toks)
    length = F.greatest(n - 1, F.lit(0))
    bg = F.zip_with(
        F.slice(toks, 1, length),
        F.slice(toks, 2, length),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    big = docs.select("doc_id", F.explode(bg).alias("g"))
    top1 = (
        big.groupBy("g")
        .agg(F.count("*").cast("long").alias("corpus_freq"))
        .orderBy(F.col("corpus_freq").desc(), "g")
        .limit(1)
        .select(F.col("g").alias("phrase"), "corpus_freq")
    )
    hits = (
        big.join(F.broadcast(top1), big.g == top1.phrase)
        .groupBy("doc_id", "phrase", "corpus_freq")
        .agg(F.count("*").cast("long").alias("n_occurrences"))
    )
    return hits.select(
        "doc_id", "phrase", "n_occurrences", "corpus_freq"
    ).orderBy(F.col("n_occurrences").desc(), "doc_id").limit(_PHR_TOPK)


# --------------------------------------------------------------------------
# cmp1 — fused two-corpus diff report (ref vs cand halves)
# --------------------------------------------------------------------------

_CMP_BUCKET_W = 10
_CMP_N_BUCKETS = 13

_CMP1_SQL = f"""
WITH g AS (
  SELECT doc_id, text,
         {_KS_GRP_SQL} = 'ref' AS is_ref,
         least(CAST(floor(CAST(len(regexp_extract_all(text, '\\S+'))
                               AS DOUBLE) / {_CMP_BUCKET_W}) AS BIGINT),
               {_CMP_N_BUCKETS - 1}) AS bucket
  FROM documents
),
nd AS (
  SELECT CAST(count(*) FILTER (WHERE is_ref) AS BIGINT) AS n_ref,
         CAST(count(*) FILTER (WHERE NOT is_ref) AS BIGINT) AS n_cand
  FROM g
),
tok AS (
  SELECT is_ref, unnest(regexp_extract_all(text, '\\S+')) AS tok FROM g
),
tc AS (
  SELECT tok,
         CAST(count(*) FILTER (WHERE is_ref) AS BIGINT) AS ca,
         CAST(count(*) FILTER (WHERE NOT is_ref) AS BIGINT) AS cb
  FROM tok GROUP BY tok
),
voc AS (
  SELECT CAST(count(*) FILTER (WHERE ca > 0) AS BIGINT) AS vocab_ref,
         CAST(count(*) FILTER (WHERE cb > 0) AS BIGINT) AS vocab_cand,
         CAST(count(*) FILTER (WHERE ca > 0 AND cb > 0) AS BIGINT) AS v_inter,
         CAST(count(*) AS BIGINT) AS v_union,
         CAST(coalesce(sum(cb) FILTER (WHERE ca = 0), 0) AS BIGINT) AS oov_occ,
         CAST(coalesce(sum(cb), 0) AS BIGINT) AS cand_occ
  FROM tc
),
lb AS (
  SELECT bucket,
         CAST(count(*) FILTER (WHERE is_ref) AS BIGINT) AS ba,
         CAST(count(*) FILTER (WHERE NOT is_ref) AS BIGINT) AS bb
  FROM g GROUP BY bucket
),
tvd AS (
  SELECT CAST(sum(abs(ba * nd.n_cand - bb * nd.n_ref)) AS BIGINT) AS dsum
  FROM lb CROSS JOIN nd
)
SELECT nd.n_ref AS n_docs_ref, nd.n_cand AS n_docs_cand,
       voc.vocab_ref, voc.vocab_cand,
       CAST(voc.v_inter AS DOUBLE) / nullif(CAST(voc.v_union AS DOUBLE), 0.0)
         AS vocab_jaccard,
       CAST(voc.oov_occ AS DOUBLE) / nullif(CAST(voc.cand_occ AS DOUBLE), 0.0)
         AS oov_cand_rate,
       CAST(tvd.dsum AS DOUBLE)
         / nullif(2.0 * CAST(nd.n_ref AS DOUBLE) * CAST(nd.n_cand AS DOUBLE),
                  0.0) AS length_tvd
FROM nd CROSS JOIN voc CROSS JOIN tvd
"""


@query("cmp1_corpus_diff", oracle=_CMP1_SQL)
def cmp1_corpus_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fused two-corpus diff report — the single-row monitoring
    readout comparing the ref/cand corpus halves (dq3/ks1's
    naming-independent source-hash split standing in for
    yesterday's-snapshot vs today's): document counts, vocabulary
    sizes and their Jaccard overlap, the candidate side's one-way
    OOV occurrence rate against the reference vocabulary (oov1's
    forward direction), and the doc-length total-variation distance
    (drift1's statistic, between the halves). One plan, one report —
    the cp2-style composition proof for the MONITORING family: these
    four signals normally run as four jobs; fused, the grouped
    projection is computed once and each signal is one aggregate over
    it.

    Exactness: every count is an exact conditional BIGINT off shared
    projections; jaccard/OOV/TVD are single double divisions
    (TVD cross-multiplied to |b_a·N_cand − b_b·N_ref| before its one
    division — the drift1 rule). NULL sources hash to 'cand', NULL
    texts bucket to NULL and contribute no tokens, identically on
    both engines.

    Scale shape: the doc projection (split flag + length bucket) is
    computed once; ONE token-key shuffle builds the two-sided
    vocabulary table carrying both conditional counts (no second pass
    per side); the bucket histogram is a map-side-combined groupBy on
    ≤13 keys; everything joins as 1-row broadcasts."""
    from ..functions.dedup import ce_hash64 as _ce

    is_ref = (
        ((_ce(F.concat(F.lit("dq3|"), F.col("source"))) % 2) + 2) % 2 == 0
    )
    g = load(spark, sf_dir, "documents").select(
        "text",
        F.coalesce(is_ref, F.lit(False)).alias("is_ref"),
        F.least(
            F.floor(
                F.size(tokens(F.col("text"))).cast("double")
                / F.lit(float(_CMP_BUCKET_W))
            ).cast("long"),
            F.lit(_CMP_N_BUCKETS - 1).cast("long"),
        ).alias("bucket"),
    )
    nd = g.agg(
        F.count_if(F.col("is_ref")).alias("n_ref"),
        F.count_if(~F.col("is_ref")).alias("n_cand"),
    )
    tok = g.select("is_ref", F.explode(tokens(F.col("text"))).alias("tok"))
    tc = tok.groupBy("tok").agg(
        F.count_if(F.col("is_ref")).alias("ca"),
        F.count_if(~F.col("is_ref")).alias("cb"),
    )
    voc = tc.agg(
        F.count_if(F.col("ca") > 0).alias("vocab_ref"),
        F.count_if(F.col("cb") > 0).alias("vocab_cand"),
        F.count_if((F.col("ca") > 0) & (F.col("cb") > 0)).alias("v_inter"),
        F.count("*").cast("long").alias("v_union"),
        F.coalesce(
            F.sum(F.when(F.col("ca") == 0, F.col("cb"))), F.lit(0)
        ).cast("long").alias("oov_occ"),
        F.coalesce(F.sum("cb"), F.lit(0)).cast("long").alias("cand_occ"),
    )
    lb = g.groupBy("bucket").agg(
        F.count_if(F.col("is_ref")).alias("ba"),
        F.count_if(~F.col("is_ref")).alias("bb"),
    )
    tvd = (
        lb.join(F.broadcast(nd))
        .agg(
            F.sum(
                F.abs(
                    F.col("ba") * F.col("n_cand") - F.col("bb") * F.col("n_ref")
                )
            )
            .cast("long")
            .alias("dsum")
        )
    )
    return (
        nd.join(F.broadcast(voc))
        .join(F.broadcast(tvd))
        .select(
            F.col("n_ref").alias("n_docs_ref"),
            F.col("n_cand").alias("n_docs_cand"),
            "vocab_ref",
            "vocab_cand",
            (
                F.col("v_inter").cast("double")
                / F.nullif(F.col("v_union").cast("double"), F.lit(0.0))
            ).alias("vocab_jaccard"),
            (
                F.col("oov_occ").cast("double")
                / F.nullif(F.col("cand_occ").cast("double"), F.lit(0.0))
            ).alias("oov_cand_rate"),
            (
                F.col("dsum").cast("double")
                / F.nullif(
                    F.lit(2.0)
                    * F.col("n_ref").cast("double")
                    * F.col("n_cand").cast("double"),
                    F.lit(0.0),
                )
            ).alias("length_tvd"),
        )
    )


# --------------------------------------------------------------------------
# imp1 — group-median imputation of masked values
# --------------------------------------------------------------------------

#: synthetic missingness mask (the d8 delta convention): every 7th
#: event plays a row whose value failed to arrive
_IMP_MASK = 7

_IMP1_SQL = f"""
WITH ev AS (
  SELECT event_id, event_type,
         CAST(round(value * 100) AS BIGINT) AS cents,
         event_id % {_IMP_MASK} = 0 AS masked
  FROM events
  WHERE value IS NOT NULL
),
vc AS (
  SELECT event_type, cents, CAST(count(*) AS BIGINT) AS c
  FROM ev WHERE NOT masked
  GROUP BY 1, 2
),
cum AS (
  SELECT event_type, cents,
         SUM(c) OVER (PARTITION BY event_type ORDER BY cents
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS f,
         SUM(c) OVER (PARTITION BY event_type) AS n
  FROM vc
),
med AS (
  SELECT event_type, CAST(min(cents) AS BIGINT) AS median_cents,
         CAST(any_value(n) AS BIGINT) AS n_observed
  FROM cum
  WHERE 2 * f >= n + 1
  GROUP BY event_type
)
SELECT e.event_id, e.event_type, m.median_cents, m.n_observed
FROM ev e JOIN med m ON e.event_type = m.event_type
WHERE e.masked
"""


@query("imp1_group_median_impute", oracle=_IMP1_SQL)
def imp1_group_median_impute(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Missing-value imputation by per-group exact median — the
    feature-engineering repair step after dq2's null profiling finds
    a column worth saving: rows whose value is missing (synthetic
    mask: every 7th event, the d8 delta convention) receive their
    event type's LOWER MEDIAN of the observed values. The lower
    median (the ⌈n/2⌉-th order statistic) is chosen over the
    interpolated form deliberately: it is an exact integer both
    engines select identically, while midpoint interpolation between
    engines is the an2/wmed1-documented float trap.

    Exactness: values fix-point to cents; the median comes from a
    cumulative count over the (type, cents) VALUE SPINE — median =
    min cents with 2·F(cents) ≥ n+1 — all exact integers; the output
    is the imputed rows with their fill value, directly joinable back
    by event_id.

    Scale shape: the spine trick (ks1/cpd1's argument) is the whole
    design — no per-group sort of raw rows, no single-task percentile:
    one map-side-combined (type, cents) groupBy bounds the window by
    the VALUE DOMAIN, not the corpus, and the skewed 5-type partition
    never materializes row-level data. The fill join broadcasts the
    ≤n_types median table back onto the masked rows. A group too
    value-diverse for a spine falls back to dd1's sketch quantiles —
    same output contract."""
    ev = (
        load(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select(
            "event_id",
            "event_type",
            F.round(F.col("value") * 100).cast("long").alias("cents"),
            (F.col("event_id") % _IMP_MASK == 0).alias("masked"),
        )
    )
    vc = (
        ev.filter(~F.col("masked"))
        .groupBy("event_type", "cents")
        .agg(F.count("*").cast("long").alias("c"))
    )
    wf = (
        Window.partitionBy("event_type")
        .orderBy("cents")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wn = Window.partitionBy("event_type")
    cum = vc.select(
        "event_type",
        "cents",
        F.sum("c").over(wf).alias("f"),
        F.sum("c").over(wn).alias("n"),
    )
    med = (
        cum.filter(2 * F.col("f") >= F.col("n") + 1)
        .groupBy("event_type")
        .agg(
            F.min("cents").cast("long").alias("median_cents"),
            F.any_value(F.col("n")).cast("long").alias("n_observed"),
        )
    )
    return (
        ev.filter(F.col("masked"))
        .join(F.broadcast(med), "event_type")
        .select("event_id", "event_type", "median_cents", "n_observed")
    )


# --------------------------------------------------------------------------
# sax1 — SAX symbolization of the daily event-count series
# --------------------------------------------------------------------------

_SAX_W = 8  # PAA windows
#: alphabet-4 Gaussian breakpoints (Lin et al. 2003)
_SAX_BP = (-0.6745, 0.0, 0.6745)

_SAX1_SQL = f"""
WITH d AS (
  SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS c
  FROM events WHERE ts IS NOT NULL
  GROUP BY 1
),
rk AS (
  SELECT c, CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS r FROM d
),
tot AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(c) AS DECIMAL(38,0)) AS s,
         CAST(sum(CAST(c AS DECIMAL(38,0)) * CAST(c AS DECIMAL(38,0)))
              AS DECIMAL(38,0)) AS q
  FROM d
),
win AS (
  SELECT CAST(floor(CAST((r - 1) * {_SAX_W} AS DOUBLE)
                    / CAST(tot.n AS DOUBLE)) AS BIGINT) + 1 AS w,
         c
  FROM rk CROSS JOIN tot
),
paa AS (
  SELECT w, CAST(count(*) AS BIGINT) AS n_days,
         CAST(sum(c) AS BIGINT) AS cs
  FROM win GROUP BY w
),
z AS (
  SELECT paa.w, paa.n_days,
         CAST(paa.cs AS DOUBLE) / CAST(paa.n_days AS DOUBLE) AS paa_mean,
         (CAST(paa.cs AS DOUBLE) / CAST(paa.n_days AS DOUBLE)
          - CAST(tot.s AS DOUBLE) / CAST(tot.n AS DOUBLE))
           / nullif(sqrt(CAST(CAST(tot.n AS DECIMAL(38,0)) * tot.q
                              - tot.s * tot.s AS DOUBLE))
                      / CAST(tot.n AS DOUBLE), 0.0) AS zz
  FROM paa CROSS JOIN tot
)
SELECT w AS win, n_days, paa_mean, zz AS z,
       CASE WHEN zz < CAST({_SAX_BP[0]} AS DOUBLE) THEN 'a'
            WHEN zz < CAST({_SAX_BP[1]} AS DOUBLE) THEN 'b'
            WHEN zz < CAST({_SAX_BP[2]} AS DOUBLE) THEN 'c'
            WHEN zz IS NOT NULL THEN 'd' END AS symbol
FROM z
"""


@query("sax1_sax_symbols", oracle=_SAX1_SQL)
def sax1_sax_symbols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SAX symbolization (Lin, Keogh, Lonardi & Chiu 2003) of the
    daily event-count series: PAA-average the day series into 8
    equal-rank windows, z-normalize against the whole series, and map
    each window to an alphabet-4 symbol at the published Gaussian
    breakpoints (±0.6745, 0) — the discretized shape signature that
    makes time series greppable (motif mining, regime fingerprints,
    cheap similarity by symbol edit distance). cpd1 localizes ONE
    change; the SAX word sketches the whole year's shape.

    Determinism: the series, PAA sums, and power sums are exact
    integers (DECIMAL(38,0) keeps N·Q − S² exact; its double cast is
    correct below 2^53, i.e. daily counts to ~1e5 over decades —
    past that pre-scale counts); z is the identical IEEE sequence
    (two divisions, subtract, sqrt, divide) in both engines, the
    breakpoints are CAST-literals (the mmr1 decimal-literal rule),
    and a zero-variance series yields NULL z/symbol via nullif
    rather than an engine-specific NaN.

    Scale shape: ONE map-side-combined groupBy collapses the corpus
    to the day spine; the rank window, PAA reduce, and z arithmetic
    run on the spine and its 8-row summary (the ks1/cpd1 spine
    argument). Scan-bound at any scale."""
    d = (
        load(spark, sf_dir, "events")
        .filter(F.col("ts").isNotNull())
        .select(F.to_date("ts").alias("day"))
        .groupBy("day")
        .agg(F.count("*").cast("long").alias("c"))
    )
    rk = d.select(
        "c", F.row_number().over(Window.orderBy("day")).cast("long").alias("r")
    )
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    tot = d.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("c").cast("decimal(38,0)").alias("s"),
        F.sum(dec(F.col("c")) * dec(F.col("c")))
        .cast("decimal(38,0)")
        .alias("q"),
    )
    win = rk.join(F.broadcast(tot)).select(
        (
            F.floor(
                ((F.col("r") - 1) * _SAX_W).cast("double")
                / F.col("n").cast("double")
            ).cast("long")
            + 1
        ).alias("w"),
        "c",
    )
    paa = win.groupBy("w").agg(
        F.count("*").cast("long").alias("n_days"),
        F.sum("c").cast("long").alias("cs"),
    )
    j = paa.join(F.broadcast(tot))
    paa_mean = F.col("cs").cast("double") / F.col("n_days").cast("double")
    mu = F.col("s").cast("double") / F.col("n").cast("double")
    sigma = F.sqrt(
        (dec(F.col("n")) * F.col("q") - F.col("s") * F.col("s")).cast("double")
    ) / F.col("n").cast("double")
    zz = (paa_mean - mu) / F.nullif(sigma, F.lit(0.0))
    return j.select(
        F.col("w").alias("win"),
        "n_days",
        paa_mean.alias("paa_mean"),
        zz.alias("z"),
        F.when(zz < F.lit(_SAX_BP[0]), F.lit("a"))
        .when(zz < F.lit(_SAX_BP[1]), F.lit("b"))
        .when(zz < F.lit(_SAX_BP[2]), F.lit("c"))
        .when(zz.isNotNull(), F.lit("d"))
        .alias("symbol"),
    )


# --------------------------------------------------------------------------
# dq9 — declarative data-contract validation
# --------------------------------------------------------------------------

#: (rule_id, human-readable contract clause, SQL violation predicate)
_DQ9_RULES = (
    ("value_nonnegative", "value >= 0", "value IS NOT NULL AND value < 0"),
    (
        "value_upper_bound",
        "value <= 1000000",
        "value IS NOT NULL AND value > 1000000",
    ),
    (
        "event_type_enum",
        "event_type IN (view, click, purchase, signup, error)",
        "event_type IS NOT NULL AND event_type NOT IN "
        "('view', 'click', 'purchase', 'signup', 'error')",
    ),
    (
        "ts_in_window",
        "ts in [2020-01-01, 2030-01-01)",
        "ts IS NOT NULL AND (ts < TIMESTAMP '2020-01-01' "
        "OR ts >= TIMESTAMP '2030-01-01')",
    ),
    ("user_id_present", "user_id IS NOT NULL", "user_id IS NULL"),
)

_DQ9_SQL = (
    "WITH ev AS (SELECT CAST(ts AS TIMESTAMP) AS ts, user_id, event_type, "
    "value FROM events),\n"
    "t AS (SELECT CAST(count(*) AS BIGINT) AS n_rows,\n"
    + ",\n".join(
        f"  CAST(count(*) FILTER (WHERE {pred}) AS BIGINT) AS v{i}"
        for i, (_, _, pred) in enumerate(_DQ9_RULES)
    )
    + "\n  FROM ev)\n"
    + "\nUNION ALL ".join(
        f"SELECT '{rid}' AS rule_id, '{clause}' AS contract, n_rows, "
        f"v{i} AS n_violations, "
        f"CAST(v{i} AS DOUBLE) / nullif(CAST(n_rows AS DOUBLE), 0.0) "
        f"AS violation_rate, v{i} = 0 AS passes FROM t"
        for i, (rid, clause, _) in enumerate(_DQ9_RULES)
    )
)


@query("dq9_contract_check", oracle=_DQ9_SQL)
def dq9_contract_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-contract validation — the ingest gate that
    runs BEFORE any analytics trusts a feed: each contract clause
    (non-negative values, value ceiling, event-type enum, timestamp
    window, required user id) is counted as a violation predicate
    over the stream and surfaced as one row with its violation count,
    rate, and pass verdict. dq2 PROFILES columns; dq9 asserts an
    agreed contract and is what a data SLA dashboard reads. NULLs
    violate only the presence rule — every range/enum clause skips
    them explicitly (three-valued logic made deliberate, the f4
    lesson).

    Exactness: all counts are conditional exact BIGINTs computed in
    ONE aggregate pass; rates are single double divisions; verdicts
    are integer compares.

    Scale shape: one scan, one map-side-combined 1-row aggregate
    carrying all clause counters simultaneously (never one pass per
    rule), then a constant 5-row projection. Scan-bound at 100 TB;
    adding a clause adds a counter, not a pass."""
    ev = load(spark, sf_dir, "events")
    t = ev.agg(
        F.count("*").cast("long").alias("n_rows"),
        *[
            F.count_if(F.expr(pred)).cast("long").alias(f"v{i}")
            for i, (_, _, pred) in enumerate(_DQ9_RULES)
        ],
    )
    rows = []
    for i, (rid, clause, _) in enumerate(_DQ9_RULES):
        rows.append(
            t.select(
                F.lit(rid).alias("rule_id"),
                F.lit(clause).alias("contract"),
                "n_rows",
                F.col(f"v{i}").alias("n_violations"),
                (
                    F.col(f"v{i}").cast("double")
                    / F.nullif(F.col("n_rows").cast("double"), F.lit(0.0))
                ).alias("violation_rate"),
                (F.col(f"v{i}") == 0).alias("passes"),
            )
        )
    out = rows[0]
    for r in rows[1:]:
        out = out.unionAll(r)
    return out


# --------------------------------------------------------------------------
# gap1 — inter-arrival gap statistics per event type
# --------------------------------------------------------------------------

_GAP1_SQL = """
WITH ev AS (
  SELECT event_type, event_id, epoch_us(ts) AS t
  FROM events WHERE ts IS NOT NULL
),
gaps AS (
  SELECT event_type,
         t - lag(t) OVER (PARTITION BY event_type
                          ORDER BY t, event_id) AS gap
  FROM ev
),
gv AS (
  SELECT event_type, CAST(gap AS BIGINT) AS gap,
         CAST(count(*) AS BIGINT) AS c
  FROM gaps WHERE gap IS NOT NULL
  GROUP BY 1, 2
),
cum AS (
  SELECT event_type, gap,
         SUM(c) OVER (PARTITION BY event_type ORDER BY gap
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS f,
         SUM(c) OVER (PARTITION BY event_type) AS n
  FROM gv
),
med AS (
  SELECT event_type, CAST(min(gap) AS BIGINT) AS median_gap_us
  FROM cum WHERE 2 * f >= n + 1
  GROUP BY 1
),
p90 AS (
  SELECT event_type, CAST(min(gap) AS BIGINT) AS p90_gap_us
  FROM cum WHERE 10 * f >= 9 * n
  GROUP BY 1
),
agg AS (
  SELECT event_type,
         CAST(sum(CAST(gap AS DECIMAL(38,0)) * CAST(c AS DECIMAL(38,0)))
              AS DECIMAL(38,0)) AS gsum,
         CAST(sum(c) AS BIGINT) AS n_gaps,
         CAST(max(gap) AS BIGINT) AS max_gap_us
  FROM gv GROUP BY 1
)
SELECT a.event_type, a.n_gaps,
       CAST(a.gsum AS DOUBLE) / CAST(a.n_gaps AS DOUBLE) AS mean_gap_us,
       m.median_gap_us, p.p90_gap_us, a.max_gap_us
FROM agg a
JOIN med m ON a.event_type = m.event_type
JOIN p90 p ON a.event_type = p.event_type
"""


@query("gap1_interarrival_stats", oracle=_GAP1_SQL)
def gap1_interarrival_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-arrival gap statistics per event type — mean, exact
    lower-median, exact p90 and max of the microsecond gaps between
    consecutive events of each type: the arrival-process profile
    behind watermark tuning (st-family delays), session-gap choice
    (e2's 30-minute threshold should trace back to THIS table) and
    fresh1's staleness threshold. A p90 far above the median means
    bursty arrival — tune watermarks to the tail, not the mean.

    Exactness: gaps are exact integer microsecond differences ordered
    by (t, event_id) so timestamp ties don't reorder between engines;
    median and p90 are exact order statistics via the (type, gap)
    VALUE-SPINE cumulative (the imp1 rule — 2F ≥ n+1 and 10F ≥ 9n
    integer gates, no interpolation); the mean sums gap·count in
    DECIMAL(38,0) and divides once.

    Scale shape: the lag window hash-partitions by event_type —
    bounded type cardinality makes this the one corpus-sized exchange
    — then the spine trick bounds every quantile by the gap-value
    domain, not the event count. For high-cardinality keys the same
    plan re-partitions by (type, day) first; for unbounded value
    domains the dd1 sketch substitutes."""
    ev = (
        load(spark, sf_dir, "events")
        .filter(F.col("ts").isNotNull())
        .select(
            "event_type",
            "event_id",
            F.unix_micros(F.col("ts").cast("timestamp")).alias("t"),
        )
    )
    w = Window.partitionBy("event_type").orderBy("t", "event_id")
    gaps = ev.select(
        "event_type", (F.col("t") - F.lag("t").over(w)).alias("gap")
    ).filter(F.col("gap").isNotNull())
    gv = gaps.groupBy("event_type", "gap").agg(
        F.count("*").cast("long").alias("c")
    )
    wf = (
        Window.partitionBy("event_type")
        .orderBy("gap")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wn = Window.partitionBy("event_type")
    cum = gv.select(
        "event_type",
        "gap",
        F.sum("c").over(wf).alias("f"),
        F.sum("c").over(wn).alias("n"),
    )
    med = (
        cum.filter(2 * F.col("f") >= F.col("n") + 1)
        .groupBy("event_type")
        .agg(F.min("gap").cast("long").alias("median_gap_us"))
    )
    p90 = (
        cum.filter(10 * F.col("f") >= 9 * F.col("n"))
        .groupBy("event_type")
        .agg(F.min("gap").cast("long").alias("p90_gap_us"))
    )
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    agg = gv.groupBy("event_type").agg(
        F.sum(dec(F.col("gap")) * dec(F.col("c")))
        .cast("decimal(38,0)")
        .alias("gsum"),
        F.sum("c").cast("long").alias("n_gaps"),
        F.max("gap").cast("long").alias("max_gap_us"),
    )
    return (
        agg.join(med, "event_type")
        .join(p90, "event_type")
        .select(
            "event_type",
            "n_gaps",
            (
                F.col("gsum").cast("double") / F.col("n_gaps").cast("double")
            ).alias("mean_gap_us"),
            "median_gap_us",
            "p90_gap_us",
            "max_gap_us",
        )
    )


# --------------------------------------------------------------------------
# ppx1 — per-doc unigram cross-entropy under the corpus LM (CCNet gate)
# --------------------------------------------------------------------------

#: the shared unigram-LM scoring CTEs: per-doc exact token count and
#: negative log-likelihood in integer micro-nats (ppx1 surfaces them
#: per doc; cur1 bins them into curriculum stages)
_PPX_DOC_CTES = r"""toks AS (
  SELECT doc_id, unnest(regexp_extract_all(text, '\S+')) AS w
  FROM documents WHERE doc_id IS NOT NULL AND text IS NOT NULL
),
vocab AS (SELECT w, CAST(count(*) AS BIGINT) AS cw FROM toks GROUP BY w),
tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM toks),
lp AS (
  SELECT t.doc_id,
         CAST(round(round(ln(v.cw), 6) * 1000000) AS BIGINT)
           - CAST(round(round(ln(tot.n), 6) * 1000000) AS BIGINT) AS lp_micro
  FROM toks t JOIN vocab v USING (w) CROSS JOIN tot
),
doc AS (
  SELECT doc_id,
         CAST(count(*) AS BIGINT) AS n_tokens,
         CAST(-sum(lp_micro) AS BIGINT) AS nll_micro
  FROM lp GROUP BY doc_id
)"""

_PPX1_SQL = f"""
WITH {_PPX_DOC_CTES}
SELECT doc_id, n_tokens, nll_micro,
       CAST(nll_micro AS DOUBLE) / CAST(n_tokens AS DOUBLE) / 1000000
         AS cross_entropy_nats
FROM doc
"""


def _ppx_doc_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc (doc_id, n_tokens, nll_micro) under the corpus's own
    unigram LM — exact integer micro-nats, the Spark twin of
    ``_PPX_DOC_CTES`` (see ppx1's docstring for the engine-parity
    argument and the scale shape)."""
    from pyspark.storagelevel import StorageLevel

    docs = load(spark, sf_dir, "documents").filter(
        F.col("doc_id").isNotNull() & F.col("text").isNotNull()
    )
    toks = docs.select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("w")
    ).persist(StorageLevel.MEMORY_AND_DISK)
    vocab = toks.groupBy("w").agg(F.count("*").cast("long").alias("cw"))
    tot = toks.agg(F.count("*").cast("long").alias("n"))
    micro = lambda c: F.round(  # noqa: E731
        F.round(F.log(c.cast("double")), 6) * F.lit(1_000_000)
    ).cast("long")
    lp = (
        toks.join(vocab, "w")
        .crossJoin(F.broadcast(tot))
        .select(
            "doc_id", (micro(F.col("cw")) - micro(F.col("n"))).alias("lp_micro")
        )
    )
    return lp.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_tokens"),
        (-F.sum("lp_micro")).cast("long").alias("nll_micro"),
    )


@query("ppx1_unigram_cross_entropy", oracle=_PPX1_SQL)
def ppx1_unigram_cross_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document cross-entropy under the corpus's own unigram LM —
    the CCNet quality/novelty gate (Wenzek et al., LREC 2020: docs are
    bucketed by LM perplexity; head = fluent, tail = noise) in its
    self-trained unigram form: H(d) = −(1/|d|)·Σ_w ln(c_w/N). Low H
    means the doc is made of corpus-typical words (fluent or
    boilerplate — cross-check d1/winnow2); high H flags rare-token
    noise for the cal1/cp2 gate family. Complements ent1 (WITHIN-doc
    entropy) — this scores each doc AGAINST the corpus distribution.

    Exactness: each token's log-prob is composed from two
    independently rounded logs — round(ln(c_w),6) and round(ln(N),6),
    the t4/ret1 libm convention that holds across engines — scaled to
    exact integer micro-nats BEFORE the subtraction and the per-doc
    sum, so accumulation is order-independent exact integer math; the
    surfaced per-token mean exits through one identical
    (cast, /n, /1e6) IEEE sequence. nll_micro is surfaced raw so the
    hash comparison pins the exact integers, not just the divided
    double. NULL ids/text are excluded by policy; token-less docs
    emit nothing on either engine.

    Scale shape: ONE token explode (persisted — vocab, total and the
    scoring join all consume it), a map-side-combinable vocab count,
    a 1-row total that broadcasts, then the token stream joins the
    vocab on the word key (AQE broadcasts the vocab while it fits;
    at web scale it degrades to a hash join co-partitioned on w) and
    ONE doc-keyed aggregate. No windows, no driver data."""
    doc = _ppx_doc_scores(spark, sf_dir)
    return doc.select(
        "doc_id",
        "n_tokens",
        "nll_micro",
        (
            F.col("nll_micro").cast("double")
            / F.col("n_tokens").cast("double")
            / F.lit(1_000_000.0)
        ).alias("cross_entropy_nats"),
    )


# --------------------------------------------------------------------------
# cur1 — curriculum staging by unigram cross-entropy (quartile manifest)
# --------------------------------------------------------------------------

_CUR1_SQL = f"""
WITH {_PPX_DOC_CTES},
keyd AS (
  SELECT doc_id, n_tokens, nll_micro // n_tokens AS ce_micro FROM doc
),
b AS (
  SELECT round(CAST(quantile_cont(ce_micro, 0.25) AS DOUBLE), 6) AS q1,
         round(CAST(quantile_cont(ce_micro, 0.50) AS DOUBLE), 6) AS q2,
         round(CAST(quantile_cont(ce_micro, 0.75) AS DOUBLE), 6) AS q3
  FROM keyd
),
staged AS (
  SELECT k.doc_id, k.n_tokens, k.ce_micro,
         CAST(CASE WHEN ce_micro <= q1 THEN 1
                   WHEN ce_micro <= q2 THEN 2
                   WHEN ce_micro <= q3 THEN 3
                   ELSE 4 END AS INTEGER) AS stage
  FROM keyd k, b
),
sagg AS (
  SELECT stage,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
         CAST(min(ce_micro) AS BIGINT) AS min_ce_micro,
         CAST(max(ce_micro) AS BIGINT) AS max_ce_micro,
         sum(ce_micro) AS sc
  FROM staged GROUP BY stage
),
strunc AS (
  SELECT stage, n_docs, total_tokens, min_ce_micro, max_ce_micro,
         sc // CAST(power(10, greatest(least(
           length(CAST(abs(sc) AS VARCHAR)) - 15, 22), 0)) AS HUGEINT) AS sct,
         CAST(power(10, greatest(least(
           length(CAST(abs(sc) AS VARCHAR)) - 15, 22), 0)) AS HUGEINT) AS p
  FROM sagg
)
SELECT stage, n_docs, total_tokens, min_ce_micro, max_ce_micro,
       CAST(sct AS DOUBLE) * CAST(p AS DOUBLE)
         / CAST(n_docs AS DOUBLE) / 1000000 AS mean_ce_nats
FROM strunc
"""


@query("cur1_curriculum_stages", oracle=_CUR1_SQL)
def cur1_curriculum_stages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum-learning stage manifest: bin every doc by its
    per-token unigram cross-entropy (ppx1's score, CCNet's perplexity
    bucketing — Wenzek et al. 2020 split CommonCrawl into head/middle/
    tail exactly this way) into four equi-depth stages, easy → hard,
    and surface the per-stage manifest a staged training run consumes
    (doc and token budgets per stage, score range, mean). Stage 1 =
    most corpus-typical (fluent/boilerplate), stage 4 = rarest-token
    docs — the standard easy-first ordering signal.

    Exactness: the stage key is nll_micro // n_tokens — ONE integer
    division of exact integers, engine-identical; quartile boundaries
    follow qb1's convention (exact interpolated percentile rounded at
    6dp before comparison, boundary ties to the LOWER stage in both
    engines); stage aggregates are exact integers and the surfaced
    mean exits through emb6's 15-digit truncation (the per-stage
    ce sum can pass 2^53 near ~1e9 docs/stage, where DuckDB's
    HUGEINT→DOUBLE cast is not correctly rounded) then one identical
    (cast·p, /n, /1e6) IEEE sequence.

    Scale shape: ppx1's scoring plan (one explode, one vocab join,
    one doc aggregate), then the qb1 pattern — exact-percentile
    boundaries from ONE aggregate pass and a zero-shuffle broadcast
    CASE; no global sort, no ntile window. The final groupBy is over
    4 stage keys. At 100 TB swap approx_percentile into the boundary
    pass, same plan shape (qb1's documented path)."""
    keyd = _ppx_doc_scores(spark, sf_dir).select(
        "doc_id",
        "n_tokens",
        F.expr("nll_micro div n_tokens").alias("ce_micro"),
    )
    b = keyd.agg(
        F.round(F.expr("percentile(ce_micro, 0.25)"), 6).alias("q1"),
        F.round(F.expr("percentile(ce_micro, 0.50)"), 6).alias("q2"),
        F.round(F.expr("percentile(ce_micro, 0.75)"), 6).alias("q3"),
    )
    stage = (
        F.when(F.col("ce_micro") <= F.col("q1"), 1)
        .when(F.col("ce_micro") <= F.col("q2"), 2)
        .when(F.col("ce_micro") <= F.col("q3"), 3)
        .otherwise(4)
    )
    sagg = (
        keyd.join(F.broadcast(b))
        .select("doc_id", "n_tokens", "ce_micro", stage.cast("int").alias("stage"))
        .groupBy("stage")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
            F.min("ce_micro").cast("long").alias("min_ce_micro"),
            F.max("ce_micro").cast("long").alias("max_ce_micro"),
            F.sum(F.col("ce_micro").cast("decimal(38,0)")).alias("sc"),
        )
    )
    # emb6's 15-digit truncation exit before the double cast (the
    # per-stage sum passes 2^53 around ~1e9 docs/stage)
    a = F.abs(F.col("sc"))
    k = F.greatest(F.least(F.length(a.cast("string")) - 15, F.lit(22)), F.lit(0))
    p = F.pow(F.lit(10.0), k).cast("decimal(38,0)")
    sct = ((a - a % p) / p).cast("decimal(38,0)")
    return sagg.select(
        "stage",
        "n_docs",
        "total_tokens",
        "min_ce_micro",
        "max_ce_micro",
        (
            sct.cast("double") * p.cast("double")
            / F.col("n_docs").cast("double")
            / F.lit(1_000_000.0)
        ).alias("mean_ce_nats"),
    )


# --------------------------------------------------------------------------
# drm1 — DoReMi-lite domain reweighting by excess cross-entropy (round 9)
# --------------------------------------------------------------------------

_DRM_BUDGET = 1_000  # permille — the mixing weights a sampler consumes

_DRM1_SQL = f"""
WITH {_PPX_DOC_CTES},
src AS (
  SELECT d.source,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(doc.n_tokens) AS BIGINT) AS n_tokens,
         CAST(sum(doc.nll_micro) AS BIGINT) AS nll
  FROM doc JOIN documents d USING (doc_id)
  GROUP BY d.source
),
ce AS (
  SELECT source, n_docs, n_tokens, nll // n_tokens AS ce_micro FROM src
),
m AS (SELECT min(ce_micro) AS mn FROM ce),
ex AS (
  SELECT source, n_docs, n_tokens, ce_micro,
         ce_micro - mn AS excess_micro
  FROM ce CROSS JOIN m
),
tex AS (SELECT CAST(sum(excess_micro) AS BIGINT) AS te FROM ex),
q AS (
  SELECT source, n_docs, n_tokens, ce_micro, excess_micro,
         CASE WHEN te > 0
              THEN ({_DRM_BUDGET} * excess_micro) // te END AS w0,
         CASE WHEN te > 0
              THEN ({_DRM_BUDGET} * excess_micro) % te END AS rem
  FROM ex CROSS JOIN tex
),
lv AS (SELECT {_DRM_BUDGET} - sum(w0) AS leftover FROM q),
r AS (
  SELECT *, row_number() OVER (
           ORDER BY rem DESC, source ASC NULLS FIRST) AS rk
  FROM q
)
SELECT source, n_docs, n_tokens, ce_micro, excess_micro,
       CASE WHEN w0 IS NULL THEN NULL
            WHEN rk <= leftover THEN w0 + 1 ELSE w0 END AS weight_permille
FROM r CROSS JOIN lv
"""


@query("drm1_domain_reweight", oracle=_DRM1_SQL)
def drm1_domain_reweight(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DoReMi-lite domain reweighting: score every source by its mean
    unigram cross-entropy under the corpus LM (ppx1's integer
    micro-nats, aggregated per source), take each source's EXCESS over
    the easiest source, and apportion a permille mixing budget
    proportional to excess with largest-remainder (Hamilton) rounding
    so the weights sum to exactly 1000. This is the shape of DoReMi
    (Xie et al., NeurIPS 2023): domains where the proxy model's loss
    exceeds the reference get upweighted; here the unigram LM plays
    the proxy and the per-corpus minimum plays the reference — the
    lite, deterministic form a data pipeline can run without training
    a model (DoReMi's smoothing toward uniform is a documented knob, a
    one-line coalesce on the excess).

    Exactness: per-source CE is ONE integral division of exact
    integer sums (nll // n_tokens); excess and the Hamilton quotas are
    pure BIGINT div/mod (lr1's machinery over a 20-row table); the
    leftover ranking tiebreaks (rem DESC, source ASC NULLS FIRST —
    spelled on BOTH engines because their default NULL ordering
    differs). Degenerate corpus (all sources at the minimum CE →
    zero total excess) surfaces NULL weights rather than a 0/0.

    Scale shape: ppx1's scoring plan (one explode, one vocab join,
    one doc aggregate) plus a doc_id-keyed join of the DOC-level
    score table back to documents for the source key — doc-count
    sized, not token-sized; everything after runs on the
    n_sources-row table (broadcast-sized at any corpus scale, the
    lr1/mix1 convention)."""
    docs = load(spark, sf_dir, "documents").filter(
        F.col("doc_id").isNotNull() & F.col("text").isNotNull()
    )
    src = (
        _ppx_doc_scores(spark, sf_dir)
        .join(docs.select("doc_id", "source"), "doc_id")
        .groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("n_tokens"),
            F.sum("nll_micro").cast("long").alias("nll"),
        )
    )
    # pin the n_sources-row CE table: m/ex/tot/q/lv/rank all derive
    # from it and each reference replays the ppx1 scoring corpus pass
    # (guide §3.3; A/B git show 555704a:tools/ab_r14_pin.json)
    ce = pin(
        src.select(
            "source",
            "n_docs",
            "n_tokens",
            F.expr("nll div n_tokens").alias("ce_micro"),
        )
    )
    m = ce.agg(F.min("ce_micro").alias("mn"))
    ex = ce.join(F.broadcast(m)).select(
        "source",
        "n_docs",
        "n_tokens",
        "ce_micro",
        (F.col("ce_micro") - F.col("mn")).alias("excess_micro"),
    )
    tot = ex.agg(F.sum("excess_micro").cast("long").alias("te"))
    scaled = F.lit(_DRM_BUDGET).cast("long") * F.col("excess_micro")
    q = ex.join(F.broadcast(tot)).select(
        "source",
        "n_docs",
        "n_tokens",
        "ce_micro",
        "excess_micro",
        F.when(F.col("te") > 0, F.expr(f"({_DRM_BUDGET} * excess_micro) div te"))
        .alias("w0"),
        F.when(F.col("te") > 0, F.pmod(scaled, F.col("te"))).alias("rem"),
    )
    lv = q.agg((F.lit(_DRM_BUDGET) - F.sum("w0")).alias("leftover"))
    wnd = Window.orderBy(F.col("rem").desc(), F.col("source").asc_nulls_first())
    r = q.withColumn("rk", F.row_number().over(wnd))
    return r.join(F.broadcast(lv)).select(
        "source",
        "n_docs",
        "n_tokens",
        "ce_micro",
        "excess_micro",
        F.when(F.col("w0").isNull(), F.lit(None).cast("long"))
        .when(F.col("rk") <= F.col("leftover"), F.col("w0") + 1)
        .otherwise(F.col("w0"))
        .alias("weight_permille"),
    )


# --------------------------------------------------------------------------
# kw1 — per-source distinctive keywords by exact likelihood-ratio lift
# --------------------------------------------------------------------------

_KW_TOPK = 5
_KW_MIN_TF = 2

_KW1_SQL = rf"""
WITH toks AS (
  SELECT d.source, unnest(regexp_extract_all(d.text, '\S+')) AS w
  FROM documents d WHERE d.text IS NOT NULL
),
tf_s AS (
  SELECT source, w, CAST(count(*) AS BIGINT) AS tf
  FROM toks GROUP BY source, w
),
len_s AS (SELECT source, CAST(count(*) AS BIGINT) AS st FROM toks GROUP BY source),
tf_g AS (SELECT w, CAST(count(*) AS BIGINT) AS gf FROM toks GROUP BY w),
tot AS (SELECT CAST(count(*) AS BIGINT) AS gt FROM toks),
lift AS (
  SELECT t.source, t.w, t.tf,
         CAST((CAST(t.tf AS HUGEINT) * gt * 1000000)
              // (CAST(g.gf AS HUGEINT) * s.st) AS BIGINT) AS lift_micro
  FROM tf_s t
  JOIN len_s s USING (source)
  JOIN tf_g g USING (w)
  CROSS JOIN tot
  WHERE t.tf >= {_KW_MIN_TF}
),
rk AS (
  SELECT *, row_number() OVER (
           PARTITION BY source
           ORDER BY lift_micro DESC, w ASC) AS rank
  FROM lift
)
SELECT source, w AS keyword, tf, lift_micro, CAST(rank AS INTEGER) AS rank
FROM rk WHERE rank <= {_KW_TOPK}
"""


@query("kw1_source_keywords", oracle=_KW1_SQL)
def kw1_source_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source distinctive-keyword extraction: rank each source's
    tokens by relative frequency LIFT against the whole corpus,
    P(w|source)/P(w|corpus) — the monotone core of log-likelihood /
    PMI keyword mining (Dunning 1993's keyness statistic orders by a
    monotone transform of the same ratio at fixed tf; pmi1 applies the
    identical trick to token PAIRS). The top-5 per source is the
    domain-term profile a corpus card reports and a router/mixer uses
    to label sources.

    Exactness: the lift is ONE integral division of exact integer
    cross-products — (tf_s · N_corpus · 10^6) div (tf_corpus ·
    N_source) — computed in DECIMAL(38,0)/HUGEINT because the
    numerator passes 2^63 on web-scale token counts; ordering
    tiebreaks on the token. A min-tf floor of {mtf} drops hapax noise
    (the published practice).

    Scale shape: ONE token explode feeding three map-side-combinable
    counts (per source+token, per source, per token — the same
    exploded stream, so AQE reuses the exchange); the ranking window
    partitions by source over VOCABULARY-sized groups (token types,
    not tokens). At 100 TB the per-source window input is still only
    that source's distinct vocabulary; a TakeOrdered pre-prune per
    source is the documented swap if vocabularies explode."""
    docs = load(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    toks = docs.select("source", F.explode(tokens(F.col("text"))).alias("w"))
    tf_s = toks.groupBy("source", "w").agg(F.count("*").cast("long").alias("tf"))
    len_s = toks.groupBy("source").agg(F.count("*").cast("long").alias("st"))
    tf_g = toks.groupBy("w").agg(F.count("*").cast("long").alias("gf"))
    tot = toks.agg(F.count("*").cast("long").alias("gt"))
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    num = dec(F.col("tf")) * dec(F.col("gt")) * F.lit(1_000_000).cast(
        "decimal(38,0)"
    )
    den = dec(F.col("gf")) * dec(F.col("st"))
    # decimal division rounds; exact floor = (num - num % den) / den
    lift_micro = ((num - F.pmod(num, den)) / den).cast("decimal(38,0)").cast(
        "long"
    )
    lift = (
        tf_s.filter(F.col("tf") >= _KW_MIN_TF)
        .join(len_s, "source")
        .join(tf_g, "w")
        .join(F.broadcast(tot))
        .select("source", "w", "tf", lift_micro.alias("lift_micro"))
    )
    wnd = Window.partitionBy("source").orderBy(
        F.col("lift_micro").desc(), F.col("w").asc()
    )
    return (
        lift.withColumn("rank", F.row_number().over(wnd))
        .filter(F.col("rank") <= _KW_TOPK)
        .select(
            "source",
            F.col("w").alias("keyword"),
            "tf",
            "lift_micro",
            F.col("rank").cast("int").alias("rank"),
        )
    )


# --------------------------------------------------------------------------
# qc4 — duplicated-5-gram token coverage (Gopher repetition rule)
# --------------------------------------------------------------------------

_QC4_N = 5
_QC4_FLAG_PCT = 15  # Rae et al. 2021 Table A1: dup-5-gram fraction 0.15

_QC4_SQL = rf"""
WITH t AS (
  SELECT doc_id, regexp_extract_all(text, '\S+') AS toks
  FROM documents WHERE doc_id IS NOT NULL
),
base AS (
  SELECT doc_id, CAST(coalesce(len(toks), 0) AS BIGINT) AS n_tokens, toks
  FROM t
),
pos AS (
  SELECT doc_id, toks,
         unnest(generate_series(1, n_tokens - {_QC4_N - 1})) AS p
  FROM base WHERE n_tokens >= {_QC4_N}
),
grams AS (
  SELECT doc_id, p, array_to_string(toks[p:p + {_QC4_N - 1}], ' ') AS g
  FROM pos
),
dup AS (
  SELECT doc_id, g, list(p) AS ps
  FROM grams GROUP BY doc_id, g HAVING count(*) >= 2
),
occ AS (SELECT doc_id, unnest(ps) AS p FROM dup),
cov AS (
  SELECT DISTINCT doc_id, cp FROM (
    SELECT doc_id, unnest(generate_series(p, p + {_QC4_N - 1})) AS cp
    FROM occ
  ) z
),
covered AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_covered FROM cov GROUP BY doc_id
)
SELECT b.doc_id, b.n_tokens,
       CAST(coalesce(c.n_covered, 0) AS BIGINT) AS covered_tokens,
       CASE WHEN b.n_tokens > 0
            THEN CAST(coalesce(c.n_covered, 0) AS DOUBLE)
                 / CAST(b.n_tokens AS DOUBLE)
            ELSE CAST(0 AS DOUBLE) END AS dup_fraction,
       coalesce(c.n_covered, 0) * 100 > {_QC4_FLAG_PCT} * b.n_tokens
         AS flagged
FROM base b LEFT JOIN covered c USING (doc_id)
"""


@query("qc4_dup_ngram_coverage", oracle=_QC4_SQL)
def qc4_dup_ngram_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repetition audit: the fraction of token
    positions covered by a 5-gram that occurs MORE THAN ONCE in the
    same document — the Gopher repetition-removal family (Rae et al.
    2021, Table A1: "duplicate 5-gram fraction", threshold 0.15),
    in token-position form. Complements qc2 (top-bigram mass — one
    hot phrase) and sub1/sub2 (CROSS-doc span duplication): this one
    catches the looping/stutter failure mode where a doc repeats its
    own phrases, the signature of template spam and broken crawls.

    Coverage is the UNION of positions (a position under two distinct
    duplicated grams counts once): per (doc, gram) the occurrence
    list is kept only when it has ≥ 2 entries, each occurrence
    expands to its {n} covered positions, and a DISTINCT collapses
    overlaps — replayed verbatim in the oracle. Exactness: counts
    are BIGINTs; the fraction is one division of exact integers; the
    flag compares integer cross-products (covered·100 > 15·n), never
    the double. Docs shorter than {n} tokens have zero grams and
    surface 0.0/false.

    Scale shape: the gram stream is ~n_tokens rows per doc (the t1/
    sub1 explode shape) feeding ONE (doc, gram) aggregate whose
    occurrence lists are per-doc-bounded; the coverage distinct and
    final count re-aggregate on doc_id, so every shuffle key is
    doc-local — no corpus-global state anywhere. The 100 TB form is
    identical; skew (one enormous doc) is bounded by the per-doc
    token count itself."""
    docs = load_spread(spark, sf_dir, "documents").filter(F.col("doc_id").isNotNull())
    base = docs.select(
        "doc_id",
        F.coalesce(F.size(tokens(F.col("text"))), F.lit(0))
        .cast("long")
        .alias("n_tokens"),
        tokens(F.col("text")).alias("toks"),
    )
    n = _QC4_N
    grams = base.filter(F.col("n_tokens") >= n).select(
        "doc_id",
        F.explode(
            F.expr(
                f"transform(sequence(1, int(n_tokens) - {n - 1}), "
                f"p -> struct(p AS p, concat_ws(' ', slice(toks, p, {n})) AS g))"
            )
        ).alias("s"),
    ).select("doc_id", F.col("s.p").alias("p"), F.col("s.g").alias("g"))
    dup = (
        grams.groupBy("doc_id", "g")
        .agg(F.collect_list("p").alias("ps"), F.count("*").alias("c"))
        .filter(F.col("c") >= 2)
    )
    cov = (
        dup.select("doc_id", F.explode("ps").alias("p"))
        .select(
            "doc_id",
            F.explode(F.sequence(F.col("p"), F.col("p") + (n - 1))).alias("cp"),
        )
        .distinct()
    )
    covered = cov.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_covered")
    )
    return base.select("doc_id", "n_tokens").join(
        covered, "doc_id", "left_outer"
    ).select(
        "doc_id",
        "n_tokens",
        F.coalesce(F.col("n_covered"), F.lit(0)).cast("long").alias(
            "covered_tokens"
        ),
        F.when(
            F.col("n_tokens") > 0,
            F.coalesce(F.col("n_covered"), F.lit(0)).cast("double")
            / F.col("n_tokens").cast("double"),
        )
        .otherwise(F.lit(0.0))
        .alias("dup_fraction"),
        (
            F.coalesce(F.col("n_covered"), F.lit(0)) * 100
            > F.lit(_QC4_FLAG_PCT) * F.col("n_tokens")
        ).alias("flagged"),
    )


# --------------------------------------------------------------------------
# wm1 — LLM watermark detection audit (round 9)
# --------------------------------------------------------------------------

_WM_Z2_CRIT = 16  # z > 4 (z² > 16): Kirchenbauer et al.'s high-confidence bar

_WM_CE = CE_HASH64_SQL.format(h="md5('wm|'||w)")

_WM1_SQL = rf"""
WITH toks AS (
  SELECT doc_id, unnest(regexp_extract_all(text, '\S+')) AS w
  FROM documents WHERE doc_id IS NOT NULL AND text IS NOT NULL
),
per AS (
  SELECT doc_id,
         CAST(count(*) AS BIGINT) AS n_tokens,
         CAST(count(*) FILTER ((({_WM_CE}) % 2 + 2) % 2 = 0) AS BIGINT)
           AS n_green
  FROM toks GROUP BY doc_id
)
SELECT doc_id, n_tokens, n_green,
       (1000 * n_green) // n_tokens AS green_permille,
       CAST((2 * n_green - n_tokens) * (2 * n_green - n_tokens) AS DOUBLE)
         / CAST(n_tokens AS DOUBLE) AS z_squared,
       2 * n_green > n_tokens
         AND (2 * n_green - n_tokens) * (2 * n_green - n_tokens)
             > {_WM_Z2_CRIT} * n_tokens
         AS watermark_detected
FROM per
"""


@query("wm1_watermark_detect", oracle=_WM1_SQL)
def wm1_watermark_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LLM-watermark detection audit (Kirchenbauer et al., ICML 2023
    "A Watermark for Large Language Models"): a watermarking sampler
    boosts tokens from a pseudorandom GREEN list (here: half the
    vocabulary by a keyed hash), so watermarked text shows a
    green-token fraction far above 1/2 and is detected by the
    one-proportion z-test z = (g − n/2)/√(n/4) = (2g − n)/√n. A
    training-data pipeline runs exactly this audit to keep
    synthetic/model-generated text out of (or quarantined within) a
    crawl corpus — the contamination direction dc1/dc3 cannot see.

    Exactness: the green rule is the md5-derived cross-engine hash
    parity (``ce_hash64('wm|'||token) mod 2``, sign-safe double-mod on
    both engines); counts are BIGINTs; the detection flag compares
    integer cross-products ((2g−n)² > 16n AND 2g>n — z > 4, the
    paper's high-confidence regime) so no threshold ever touches a
    float; z² itself is surfaced through one identical single
    division. On natural text the green fraction concentrates at 1/2
    and flags fire only at genuine-watermark rates — the audit's
    false-positive math is the classical binomial tail.

    Scale shape: ONE token explode and ONE per-doc conditional
    aggregate (map-side combinable) — the same single-pass shape as
    t1; nothing global, no joins, no windows."""
    docs = load(spark, sf_dir, "documents").filter(
        F.col("doc_id").isNotNull() & F.col("text").isNotNull()
    )
    toks = docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("w"))
    green = (
        F.pmod(ce_hash64(F.concat(F.lit("wm|"), F.col("w"))), F.lit(2)) == 0
    )
    per = toks.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_tokens"),
        F.count_if(green).cast("long").alias("n_green"),
    )
    dev = 2 * F.col("n_green") - F.col("n_tokens")
    return per.select(
        "doc_id",
        "n_tokens",
        "n_green",
        F.expr("(1000 * n_green) div n_tokens").alias("green_permille"),
        ((dev * dev).cast("double") / F.col("n_tokens").cast("double")).alias(
            "z_squared"
        ),
        (
            (2 * F.col("n_green") > F.col("n_tokens"))
            & (dev * dev > F.lit(_WM_Z2_CRIT) * F.col("n_tokens"))
        ).alias("watermark_detected"),
    )


# --------------------------------------------------------------------------
# kn1 — interpolated Kneser-Ney bigram probabilities, exact rational form
# --------------------------------------------------------------------------

_KN_MIN_C12 = 2  # surface bigrams seen at least twice (bounds the output)

_KN1_SQL = r"""
WITH toks AS (
  SELECT doc_id,
         generate_subscripts(regexp_extract_all(text, '\S+'), 1) AS pos,
         unnest(regexp_extract_all(text, '\S+')) AS w
  FROM documents WHERE doc_id IS NOT NULL AND text IS NOT NULL
),
big AS (
  SELECT a.w AS w1, b.w AS w2
  FROM toks a JOIN toks b
    ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
),
c12 AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c FROM big GROUP BY w1, w2),
c1 AS (SELECT w1, CAST(sum(c) AS BIGINT) AS c1 FROM c12 GROUP BY w1),
n1p AS (SELECT w1, CAST(count(*) AS BIGINT) AS n1p FROM c12 GROUP BY w1),
n1m AS (SELECT w2, CAST(count(*) AS BIGINT) AS n1m FROM c12 GROUP BY w2),
nt AS (SELECT CAST(count(*) AS BIGINT) AS nt FROM c12)
SELECT b.w1, b.w2, b.c AS c12,
       (4 * b.c - 3) * nt.nt + 3 * n1p.n1p * n1m.n1m AS p_num,
       4 * c1.c1 * nt.nt AS p_den,
       CAST((4 * b.c - 3) * nt.nt + 3 * n1p.n1p * n1m.n1m AS DOUBLE)
         / CAST(4 * c1.c1 * nt.nt AS DOUBLE) AS p_kn
FROM c12 b
JOIN c1 USING (w1) JOIN n1p USING (w1) JOIN n1m USING (w2) CROSS JOIN nt
WHERE b.c >= {minc}
""".replace("{minc}", str(_KN_MIN_C12))


@query("kn1_kneser_ney_bigram", oracle=_KN1_SQL)
def kn1_kneser_ney_bigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser-Ney bigram probabilities (Kneser & Ney
    1995; the Chen & Goodman 1999 interpolated form with fixed
    discount d = 0.75) — the smoothing every KenLM-style quality
    filter actually ships, upgrading lm2's unsmoothed ML bigram:

        P(w2|w1) = (c12 − d)/c1• + d·(N1+(w1·)/c1•)·(N1+(·w2)/NT)

    where N1+(w1·)/N1+(·w2) are distinct-continuation counts and NT
    the number of distinct bigram types. The continuation weighting is
    the part ML cannot express: a w2 that follows MANY different w1
    ("the") gets high unseen-context mass, a frequent-but-bound w2
    ("Francisco") does not.

    Exactness: with d = 3/4 the whole expression is ONE exact rational
    — p = [(4·c12 − 3)·NT + 3·N1+(w1·)·N1+(·w2)] / (4·c1•·NT) — whose
    BIGINT numerator and denominator are surfaced raw (the hash pins
    them exactly); the probability itself exits through one identical
    single division. No logs, no libm, nothing to round.

    Scale shape: bigrams come from an ARRAY-NATIVE adjacent-pair
    zip_with over the token array — one pass, zero shuffle before the
    type-count aggregate (the (doc,pos) positional self-join of the
    seq1/markov1 lag shape materializes the token stream twice and
    shuffles it per doc; A/B at sf0.1, 3 interleaved passes,
    2026-08-15: self-join 0.783s vs array 0.643s median on the
    bigram-count stage, identical 931-row output — verdict r9 task 4,
    array form shipped). The four count tables are map-side-
    combinable aggregates of the BIGRAM TYPE table (vocabulary-
    squared bounded, not corpus bounded); NT broadcasts as one row.
    The c12 ≥ {mc} floor bounds the surfaced rows the way every
    n-gram LM prunes its model."""
    docs = load(spark, sf_dir, "documents").filter(
        F.col("doc_id").isNotNull() & F.col("text").isNotNull()
    )
    arr = tokens(F.col("text"))
    # both slices are exactly length n−1: positions 1..n−1 zip with
    # 2..n; empty/1-token docs yield the empty pair array (greatest
    # guards the negative-length slice error on empty arrays)
    pairs = F.zip_with(
        F.slice(arr, 1, F.greatest(F.size(arr) - 1, F.lit(0))),
        F.slice(arr, 2, F.greatest(F.size(arr) - 1, F.lit(0))),
        lambda x, y: F.struct(x.alias("w1"), y.alias("w2")),
    )
    big = docs.select(F.explode(pairs).alias("p")).select("p.w1", "p.w2")
    # pin the vocab²-bounded bigram-type table: c1/n1p/n1m/nt and the
    # final join are FIVE consumers, each otherwise replaying the
    # bigram explode + (w1,w2) aggregation — the measured mechanism
    # behind kn1's r13 spread loss (guide §3.3; A/B
    # git show 555704a:tools/ab_r14_pin.json)
    c12 = pin(
        big.groupBy("w1", "w2").agg(F.count("*").cast("long").alias("c"))
    )
    c1 = c12.groupBy("w1").agg(F.sum("c").cast("long").alias("c1"))
    n1p = c12.groupBy("w1").agg(F.count("*").cast("long").alias("n1p"))
    n1m = c12.groupBy("w2").agg(F.count("*").cast("long").alias("n1m"))
    nt = c12.agg(F.count("*").cast("long").alias("nt"))
    j = (
        c12.filter(F.col("c") >= _KN_MIN_C12)
        .join(c1, "w1")
        .join(n1p, "w1")
        .join(n1m, "w2")
        .join(F.broadcast(nt))
    )
    p_num = (4 * F.col("c") - 3) * F.col("nt") + 3 * F.col("n1p") * F.col("n1m")
    p_den = 4 * F.col("c1") * F.col("nt")
    return j.select(
        "w1",
        "w2",
        F.col("c").alias("c12"),
        p_num.alias("p_num"),
        p_den.alias("p_den"),
        (p_num.cast("double") / p_den.cast("double")).alias("p_kn"),
    )


# --------------------------------------------------------------------------
# lpa2 — TRUE fixed-point semi-synchronous label propagation (round 10:
# the lpa1 convergence twin, kcore2 pattern)
# --------------------------------------------------------------------------

_LPA2_CAP = 40
_LPA2_PRED_SQL = "l.l_quantity <= 2"
#: integer argmin key for the neighbor-label mode (count desc, label
#: asc) — evaluated in HUGEINT/DECIMAL(38,0) like cov1's tiebreak so
#: the encoding is exact for any BIGINT count/label
_LPA2_KEY_SQL = "CAST(-c AS HUGEINT) * 4294967296 + lbl"


def _lpa2_oracle() -> str:
    """Recursive-CTE replay of the semi-synchronous rounds TO
    CONVERGENCE (the kcore2 machinery-certifying shape): the working
    table carries each round's (iter-tagged) full label table; the
    recursive term runs BOTH half-steps — even nodes update against
    the previous round, odd nodes against the refreshed even labels —
    and re-emits only when the full round actually changed a label,
    so the recursion halts exactly at the fixed point and
    ``max(iter)`` selects it. An ``iter < cap`` guard mirrors the
    Spark loop's max_rounds backstop bit-for-bit, so even a
    hypothetically oscillating fixture hash-matches. No NULL marker
    is needed (unlike kcore2): the node set is constant, so no round
    ever emits zero rows while changing."""
    return f"""
    WITH RECURSIVE e0 AS (
      SELECT DISTINCT CAST(o.o_custkey * 2 AS BIGINT) AS src,
                      CAST(l.l_suppkey * 2 + 1 AS BIGINT) AS dst
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      WHERE {_LPA2_PRED_SQL}
    ),
    e AS (SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0),
    lab(iter, node, lbl) AS (
      SELECT 0, src, src FROM (SELECT DISTINCT src FROM e) t0
      UNION ALL
      SELECT t.iter, t.node, t.lbl FROM (
        WITH h0 AS (
          SELECT node, lbl FROM lab WHERE node % 2 = 1
          UNION ALL
          SELECT node, arg_min(lbl, {_LPA2_KEY_SQL}) AS lbl FROM (
            SELECT e.src AS node, l.lbl, CAST(count(*) AS BIGINT) AS c
            FROM e JOIN lab l ON e.dst = l.node
            WHERE e.src % 2 = 0 GROUP BY 1, 2) g0
          GROUP BY node
        ),
        h1 AS (
          SELECT node, lbl FROM h0 WHERE node % 2 = 0
          UNION ALL
          SELECT node, arg_min(lbl, {_LPA2_KEY_SQL}) AS lbl FROM (
            SELECT e.src AS node, h.lbl, CAST(count(*) AS BIGINT) AS c
            FROM e JOIN h0 h ON e.dst = h.node
            WHERE e.src % 2 = 1 GROUP BY 1, 2) g1
          GROUP BY node
        )
        SELECT (SELECT max(iter) FROM lab) + 1 AS iter, h1.node, h1.lbl
        FROM h1
        WHERE EXISTS (SELECT 1 FROM h1 x JOIN lab o ON x.node = o.node
                      WHERE x.lbl <> o.lbl)
          AND (SELECT max(iter) FROM lab) < {_LPA2_CAP}
      ) t
    )
    SELECT {_KCORE_DECODE.format(c="node")} AS node,
           {_KCORE_DECODE.format(c="lbl")} AS community
    FROM lab WHERE iter = (SELECT max(iter) FROM lab)"""


@query("lpa2_fixed_point_communities", oracle=_lpa2_oracle())
def lpa2_fixed_point_communities(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Label propagation iterated to the TRUE fixed point — the lpa1
    convergence twin the r9 verdict asked for (kcore2 precedent).
    Plain synchronous LPA cannot converge here: on a bipartite graph
    it 2-cycles (measured: the order graph oscillates forever at
    every SF), which is exactly why lpa1 truncates at 3 rounds. The
    published remedy is Cordasco & Gargano 2011's SEMI-synchronous
    schedule — update one color class per half-step; node-id parity
    IS a 2-coloring of this customer/supplier graph — which provably
    terminates while keeping every half-step order-independent
    (within a color class no two nodes are adjacent), so the result
    stays engine-replayable.

    Fixture shape: the order graph restricted to l_quantity ≤ 2 so
    communities are non-trivial (measured: converges in 5/7/4 full
    rounds to 1/91/984 communities at sf0.001/0.01/0.1 — the denser
    full graph floods to ONE giant label, the known LPA behavior on
    structureless random graphs).

    The hash match certifies the convergence machinery itself: Spark's
    control-plane loop (one changed-count aggregate per round,
    per-round persist with eager release, max_rounds backstop) and
    the oracle's recursive-CTE replay (iter-tagged working table,
    recursion halts when a full round stops changing, identical cap
    guard) MUST agree on both the round count and every label.

    Scale shape: per lpa_semisync — labels broadcast, the doubled
    edge list persists hash-partitioned on src and is never
    reshuffled; each half-step is one broadcast join + two map-side-
    combinable aggregates over half the srcs; the convergence scalar
    is one BIGINT max per full round."""
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_quantity"
    )
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    e0 = (
        li.filter(F.col("l_quantity") <= 2)  # keep in sync w/ _LPA2_PRED_SQL
        .join(o, li.l_orderkey == o.o_orderkey)
        .select(
            (F.col("o_custkey") * 2).cast("long").alias("src"),
            (F.col("l_suppkey") * 2 + 1).cast("long").alias("dst"),
        )
        .distinct()
    )
    e = e0.unionAll(
        e0.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    lab = lpa_semisync(e, max_rounds=_LPA2_CAP)

    decode = lambda col: F.when(  # noqa: E731
        F.col(col) % 2 == 0,
        F.concat(F.lit("c"), F.expr(f"CAST({col} div 2 AS STRING)")),
    ).otherwise(F.concat(F.lit("s"), F.expr(f"CAST({col} div 2 AS STRING)")))
    return lab.select(
        decode("node").alias("node"), decode("lbl").alias("community")
    )


# --------------------------------------------------------------------------
# gr2 — TRUE fixed-point PageRank (round 10: the gr1 convergence twin)
# --------------------------------------------------------------------------

_GR2_CAP = 60
_GR2_UNIT = 10**6
_GR2_DAMP = 50


def _gr2_oracle() -> str:
    """Recursive-CTE replay of the damped integer recurrence TO the
    Δ=0 fixed point (kcore2/lpa2 pattern): the working table carries
    each round's (iter-tagged) rank table; the recursive term computes
    the next round and re-emits only while some rank still moved, with
    the same ``iter < cap`` backstop as the Spark loop — so the hash
    match certifies the convergence machinery whether or not the
    ±1-unit flicker path is taken. All arithmetic is the BIGINT
    fixed-point recurrence of functions/graph.py::pagerank (integral
    divides, rational damping) — nothing to round on either engine."""
    teleport = f"({_GR2_UNIT * (100 - _GR2_DAMP) // 100} // (SELECT n FROM nn))"
    return f"""
    WITH RECURSIVE e0 AS (
      SELECT DISTINCT 'c' || CAST(o.o_custkey AS VARCHAR) AS src,
                      's' || CAST(l.l_suppkey AS VARCHAR) AS dst
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    ),
    e AS (SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0),
    nodes AS (SELECT DISTINCT src AS node FROM e),
    nn AS (SELECT count(*) AS n FROM nodes),
    deg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg FROM e GROUP BY 1),
    ed AS (SELECT e.src, e.dst, d.deg FROM e JOIN deg d USING (src)),
    r(iter, node, rank_u) AS (
      SELECT 0, node, CAST({_GR2_UNIT} // (SELECT n FROM nn) AS BIGINT)
      FROM nodes
      UNION ALL
      SELECT t.iter, t.node, t.rank_u FROM (
        WITH nr AS (
          SELECT n.node,
                 CAST({teleport}
                      + ({_GR2_DAMP} * COALESCE(m.mass, 0)) // 100
                   AS BIGINT) AS rank_u
          FROM nodes n LEFT JOIN (
            SELECT ed.dst AS node, SUM(r2.rank_u // ed.deg) AS mass
            FROM ed JOIN r r2 ON ed.src = r2.node
            GROUP BY 1) m USING (node)
        )
        SELECT (SELECT max(iter) FROM r) + 1 AS iter, nr.node, nr.rank_u
        FROM nr
        WHERE EXISTS (SELECT 1 FROM nr x JOIN r o ON x.node = o.node
                      WHERE x.rank_u <> o.rank_u)
          AND (SELECT max(iter) FROM r) < {_GR2_CAP}
      ) t
    )
    SELECT node, rank_u AS rank_micro
    FROM r WHERE iter = (SELECT max(iter) FROM r)"""


@query("gr2_fixed_point_pagerank", oracle=_gr2_oracle())
def gr2_fixed_point_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank iterated to the TRUE integer fixed point
    (``pagerank(n_iterations=None)``, registry-visible — the gr1
    convergence twin the r9 verdict asked for). Two fixture choices
    make Δ=0 actually reachable, measured before committing:

    - the UNDIRECTED (doubled) order graph — the directed
      customer→supplier form is a depth-1 DAG whose suppliers are
      dangling sinks, trivially stable after 2 rounds; the doubled
      graph has real cycles so rank genuinely recirculates;
    - ``unit=1e6`` with damping 50/100 — at the 1e-12 default the
      contraction needs ~170 rounds to shrink the initial mass below
      one unit and the last-unit floor-division flicker can sustain
      ±1 forever (measured: the l_quantity≤2 subgraph NEVER reaches
      Δ=0 at any SF/scale — the exhaustion path pagerank now warns
      about); at micro-resolution the full graph reaches a bit-exact
      fixed point in 13/9/3 rounds at sf0.001/0.01/0.1.

    The oracle replays the recurrence as a recursive CTE with the
    IDENTICAL stop rule (Δ=0 or the max_rounds cap), so the hash
    match certifies the convergence machinery itself — round count,
    backstop, and every rank unit.

    Scale shape: per pagerank's fixed-point mode — the degree-
    annotated edge list persists once hash-partitioned on src, each
    round is one join + one map-side-combined aggregate plus a 1-row
    max|Δ| control-plane scalar; rounds shrink as O(log unit)."""
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    e0 = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(
            F.concat(F.lit("c"), F.col("o_custkey").cast("string")).alias(
                "src"
            ),
            F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias(
                "dst"
            ),
        )
        .distinct()
    )
    e = e0.unionAll(
        e0.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    r = pagerank(
        e,
        n_iterations=None,
        damping_pct=_GR2_DAMP,
        max_rounds=_GR2_CAP,
        unit=_GR2_UNIT,
    )
    return r.select("node", F.col("rank_e12").alias("rank_micro"))


# --------------------------------------------------------------------------
# lp1 — link prediction scores (common neighbors + resource allocation)
# --------------------------------------------------------------------------

_LP1_PRED_SQL = "l.l_quantity <= 1"
_LP1_DF_CAP = 30  # stop-supplier prune: wedge centers above this skip
_LP1_MIN_COMMON = 2
_LP1_TOPK = 100

_LP1_SQL = f"""
WITH e AS (
  SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS s
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  WHERE {_LP1_PRED_SQL}
),
d AS (SELECT s, CAST(count(*) AS BIGINT) AS deg FROM e GROUP BY s),
hub AS (SELECT s, deg FROM d WHERE deg BETWEEN 2 AND {_LP1_DF_CAP}),
w AS (
  SELECT a.c AS cust_a, b.c AS cust_b, h.deg
  FROM e a JOIN e b ON a.s = b.s AND a.c < b.c
  JOIN hub h ON a.s = h.s
),
sc AS (
  SELECT cust_a, cust_b,
         CAST(count(*) AS BIGINT) AS common_suppliers,
         CAST(SUM(1000000 // deg) AS BIGINT) AS ra_micro
  FROM w GROUP BY 1, 2
)
SELECT cust_a, cust_b, common_suppliers, ra_micro
FROM sc WHERE common_suppliers >= {_LP1_MIN_COMMON}
ORDER BY ra_micro DESC, common_suppliers DESC, cust_a, cust_b
LIMIT {_LP1_TOPK}
"""


@query("lp1_link_prediction", oracle=_LP1_SQL)
def lp1_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link-prediction scores for customer pairs over the bipartite
    customer–supplier order graph: common-neighbor count plus the
    Resource Allocation index (Zhou, Lü & Zhang 2009, "Predicting
    missing links via local information") — RA = Σ_{{z ∈ N(a)∩N(b)}}
    1/deg(z), the strongest of the published local indices because a
    promiscuous hub contributes almost nothing while an exclusive
    shared neighbor contributes a lot. This is the entity-resolution /
    recommendation primitive ("customers likely to share a future
    supplier"), and on a doc–shingle graph the identical plan scores
    near-duplicate candidates.

    Exactness: RA is summed in exact per-neighbor micro-units —
    1000000 div deg(z) is one integral division per wedge center,
    identical in both engines (no float ever); common_suppliers is a
    BIGINT count; the top-100 orders by the unique (ra desc, cn desc,
    a, b) key so ties cannot split the cut.

    Scale shape: wedges enumerate ONLY through capped centers (deg ∈
    [2, {_LP1_DF_CAP}] — the d2b/m5 stop-key prune; degrees are
    computed on the FULL graph first so RA weights stay true), so the
    self-join fan-out is ≤ cap² per supplier instead of quadratic in
    the hub degree; the pair aggregate is map-side combinable and the
    top-100 is a TakeOrderedAndProject, never a global sort. At 100 TB
    the cap is the knob: raising it adds wedges through busier hubs
    whose RA contribution is already ≤ 1/deg each."""
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_quantity"
    )
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    e = (
        li.filter(F.col("l_quantity") <= 1)  # keep in sync w/ _LP1_PRED_SQL
        .join(o, li.l_orderkey == o.o_orderkey)
        .select(F.col("o_custkey").alias("c"), F.col("l_suppkey").alias("s"))
        .distinct()
    )
    deg = e.groupBy("s").agg(F.count("*").cast("long").alias("deg"))
    hub = deg.filter(
        (F.col("deg") >= 2) & (F.col("deg") <= _LP1_DF_CAP)
    )
    a = e.select(F.col("c").alias("cust_a"), "s")
    b = e.select(F.col("c").alias("cust_b"), "s")
    w = (
        a.join(b, "s")
        .filter(F.col("cust_a") < F.col("cust_b"))
        .join(F.broadcast(hub), "s")  # suppliers are dimension-bounded
    )
    sc = (
        w.groupBy("cust_a", "cust_b")
        .agg(
            F.count("*").cast("long").alias("common_suppliers"),
            F.sum(F.expr("1000000 div deg")).cast("long").alias("ra_micro"),
        )
        .filter(F.col("common_suppliers") >= _LP1_MIN_COMMON)
    )
    return sc.orderBy(
        F.col("ra_micro").desc(),
        F.col("common_suppliers").desc(),
        "cust_a",
        "cust_b",
    ).limit(_LP1_TOPK)


# --------------------------------------------------------------------------
# sb1 — Self-BLEU bigram-precision corpus diversity
# --------------------------------------------------------------------------

_SB1_SQL = r"""
WITH toks AS (
  SELECT doc_id,
         generate_subscripts(regexp_extract_all(text, '\S+'), 1) AS pos,
         unnest(regexp_extract_all(text, '\S+')) AS w
  FROM documents WHERE doc_id IS NOT NULL AND text IS NOT NULL
),
big AS (
  SELECT a.doc_id, a.w || ' ' || b.w AS g
  FROM toks a JOIN toks b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
),
cd AS (
  SELECT doc_id, g, CAST(count(*) AS BIGINT) AS c FROM big GROUP BY 1, 2
),
tot AS (SELECT g, CAST(sum(c) AS BIGINT) AS ct FROM cd GROUP BY g)
SELECT cd.doc_id,
       CAST(sum(cd.c) AS BIGINT) AS n_bigrams,
       CAST(sum(least(cd.c, t.ct - cd.c)) AS BIGINT) AS clipped_hits,
       CAST(sum(least(cd.c, t.ct - cd.c)) AS DOUBLE)
         / CAST(sum(cd.c) AS DOUBLE) AS self_bleu2
FROM cd JOIN tot t USING (g)
GROUP BY cd.doc_id
"""


@query("sb1_self_bleu_bigram", oracle=_SB1_SQL)
def sb1_self_bleu_bigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document Self-BLEU, bigram-precision component (Zhu et al.
    2018, "Texygen: A Benchmarking Platform for Text Generation
    Models"): each document is scored as a BLEU hypothesis against
    the REST of the corpus as reference — the standard mode-collapse
    metric for generated corpora (a synthetic corpus whose generator
    loops emits near-identical docs and scores ≈ 1; a diverse corpus
    scores low). div1 measures diversity as corpus-level distinct-n;
    Self-BLEU is the per-document dual that localizes WHICH documents
    are the repeated ones, so a curation gate can drop them.

    Exactness: modified (clipped) bigram precision is pure integer
    arithmetic — per-doc bigram counts c, corpus totals ct, and the
    leave-one-out reference count ct − c are BIGINTs; the clipped
    numerator Σ min(c, ct − c) and the denominator Σ c are exact, and
    self_bleu2 exits through ONE double division both engines perform
    identically. (The full BLEU geometric mean over n = 1..4 with
    brevity penalty needs exp/ln — the bigram precision component is
    the published metric's core and keeps the oracle libm-free.)
    Documents with fewer than 2 tokens have no bigrams and no row —
    by construction in both engines.

    Scale shape: bigrams come from the kn1 array-native zip_with (one
    pass, no positional self-join); the (doc, gram) count is map-side
    combinable; the gram-total table is vocabulary²-bounded and joins
    back on the gram key — one corpus-sized exchange — before the
    final per-doc rollup. No pairwise document comparison anywhere:
    the leave-one-out reference count makes Self-BLEU O(corpus), not
    O(corpus²)."""
    docs = load_spread(spark, sf_dir, "documents").filter(
        F.col("doc_id").isNotNull() & F.col("text").isNotNull()
    )
    arr = tokens(F.col("text"))
    pairs = F.zip_with(
        F.slice(arr, 1, F.greatest(F.size(arr) - 1, F.lit(0))),
        F.slice(arr, 2, F.greatest(F.size(arr) - 1, F.lit(0))),
        lambda x, y: F.concat_ws(" ", x, y),
    )
    big = docs.select("doc_id", F.explode(pairs).alias("g"))
    cd = big.groupBy("doc_id", "g").agg(
        F.count("*").cast("long").alias("c")
    )
    tot = cd.groupBy("g").agg(F.sum("c").cast("long").alias("ct"))
    return (
        cd.join(tot, "g")
        .groupBy("doc_id")
        .agg(
            F.sum("c").cast("long").alias("n_bigrams"),
            F.sum(F.least(F.col("c"), F.col("ct") - F.col("c")))
            .cast("long")
            .alias("clipped_hits"),
        )
        .select(
            "doc_id",
            "n_bigrams",
            "clipped_hits",
            (
                F.col("clipped_hits").cast("double")
                / F.col("n_bigrams").cast("double")
            ).alias("self_bleu2"),
        )
    )


# --------------------------------------------------------------------------
# ppmi1 — windowed co-occurrence SPPMI pairs (round 10)
# --------------------------------------------------------------------------

_PPMI_K = 5  # the SGNS negative-sampling shift (Levy & Goldberg 2014)
_PPMI_MIN_C = 3
_PPMI_TOPK = 100

_PPMI_SQL = rf"""
WITH toks AS (
  SELECT doc_id,
         generate_subscripts(regexp_extract_all(text, '\S+'), 1) AS pos,
         unnest(regexp_extract_all(text, '\S+')) AS w
  FROM documents WHERE doc_id IS NOT NULL AND text IS NOT NULL
),
co AS (
  SELECT least(a.w, b.w) AS w1, greatest(a.w, b.w) AS w2
  FROM toks a JOIN toks b
    ON a.doc_id = b.doc_id AND b.pos - a.pos BETWEEN 1 AND 2
),
cxy AS (
  SELECT w1, w2, CAST(count(*) AS BIGINT) AS c FROM co GROUP BY 1, 2
),
marg AS (
  SELECT w, CAST(sum(c) AS BIGINT) AS m FROM (
    SELECT w1 AS w, c FROM cxy UNION ALL SELECT w2, c FROM cxy
  ) GROUP BY w
),
dd AS (SELECT CAST(sum(c) AS BIGINT) AS d FROM cxy)
SELECT x.w1, x.w2, x.c AS cooc,
       CAST((1000000 * CAST(x.c AS HUGEINT) * dd.d)
            // (CAST(m1.m AS HUGEINT) * m2.m * {_PPMI_K}) AS BIGINT)
         AS sppmi_lift_micro
FROM cxy x
JOIN marg m1 ON m1.w = x.w1
JOIN marg m2 ON m2.w = x.w2
CROSS JOIN dd
WHERE x.c >= {_PPMI_MIN_C}
ORDER BY sppmi_lift_micro DESC, w1, w2
LIMIT {_PPMI_TOPK}
"""


@query("ppmi1_sppmi_pairs", oracle=_PPMI_SQL)
def ppmi1_sppmi_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed co-occurrence SPPMI pairs (Levy & Goldberg 2014,
    "Neural Word Embedding as Implicit Matrix Factorization"): the
    symmetric ±2-token co-occurrence matrix whose shifted-positive-PMI
    cells SGNS/word2vec implicitly factorizes — THE classical
    embedding-training prep table. pmi1 scores ADJACENT collocations;
    this is the windowed matrix form with the k-shift, surfacing the
    top pairs by the monotone SPPMI lift c_xy·D/(c_x·c_y·k) — the cell
    is SPPMI-positive iff the lift exceeds 1 (1e6 in micro units), no
    ln needed for ranking (the pmi1/kw1 monotone-transform rule).

    Exactness: co-occurrence counts, pair-occurrence marginals and the
    grand total are BIGINTs; the lift is ONE integral division of
    HUGEINT/DECIMAL(38,0) cross-products; the top-{_PPMI_TOPK} orders
    by the fully-tiebroken (lift, w1, w2) key.

    Scale shape: pairs come from TWO array-native zip_withs (offsets
    1 and 2 — the kn1 adjacent-pair build, one pass, no positional
    self-join and no (doc, pos) shuffle); the (w1, w2) count is
    map-side combinable and vocabulary²-bounded from there on;
    marginals re-aggregate the compressed cell table, never the
    corpus. The oracle's positional self-join is equivalent row-wise
    (b.pos − a.pos ∈ [1, 2] ≡ the two offset zips)."""
    docs = load(spark, sf_dir, "documents").filter(
        F.col("doc_id").isNotNull() & F.col("text").isNotNull()
    )
    arr = tokens(F.col("text"))

    def offset_pairs(k: int):
        n = F.greatest(F.size(arr) - k, F.lit(0))
        return F.zip_with(
            F.slice(arr, 1, n),
            F.slice(arr, 1 + k, n),
            lambda x, y: F.struct(
                F.least(x, y).alias("w1"), F.greatest(x, y).alias("w2")
            ),
        )

    co = docs.select(
        F.explode(F.concat(offset_pairs(1), offset_pairs(2))).alias("p")
    ).select("p.w1", "p.w2")
    # pin the vocab²-bounded co-occurrence table: marg (×2), dd and
    # the output join all derive from it and would each replay the
    # token-pair explode (guide §3.3; A/B
    # git show 555704a:tools/ab_r14_pin.json)
    cxy = pin(
        co.groupBy("w1", "w2").agg(F.count("*").cast("long").alias("c"))
    )
    marg = (
        cxy.select(F.col("w1").alias("w"), "c")
        .unionAll(cxy.select(F.col("w2").alias("w"), "c"))
        .groupBy("w")
        .agg(F.sum("c").cast("long").alias("m"))
    )
    dd = cxy.agg(F.sum("c").cast("long").alias("d"))
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    num = dec(F.lit(1000000)) * F.col("c") * F.col("d")
    den = dec(F.col("m1")) * F.col("m2") * F.lit(_PPMI_K)
    lift = ((num - F.pmod(num, den)) / den).cast("decimal(38,0)").cast("long")
    out = (
        cxy.filter(F.col("c") >= _PPMI_MIN_C)
        .join(marg.select(F.col("w").alias("w1"), F.col("m").alias("m1")), "w1")
        .join(marg.select(F.col("w").alias("w2"), F.col("m").alias("m2")), "w2")
        .join(F.broadcast(dd))
        .select(
            "w1",
            "w2",
            F.col("c").alias("cooc"),
            lift.alias("sppmi_lift_micro"),
        )
    )
    return out.orderBy(
        F.col("sppmi_lift_micro").desc(), "w1", "w2"
    ).limit(_PPMI_TOPK)


# --------------------------------------------------------------------------
# perm1 — randomization test for the A/B mean difference (round 10)
# --------------------------------------------------------------------------

_PERM_K = 20  # deterministic pseudo-random reassignments

_PERM_HASH_SQL = CE_HASH64_SQL.format(
    h="md5('perm|' || CAST(k AS VARCHAR) || '|' || CAST(event_id AS VARCHAR))"
)

_PERM_SQL = f"""
WITH base AS (
  SELECT event_type, event_id,
         CAST(round(value * 100) AS BIGINT) AS cents,
         user_id % 2 = 0 AS grp_a
  FROM events
  WHERE value IS NOT NULL AND event_type IS NOT NULL
),
obs AS (
  SELECT event_type,
         CAST(count(*) FILTER (grp_a) AS BIGINT) AS n_a,
         CAST(coalesce(sum(cents) FILTER (grp_a), 0) AS HUGEINT) AS s_a,
         CAST(count(*) FILTER (NOT grp_a) AS BIGINT) AS n_b,
         CAST(coalesce(sum(cents) FILTER (NOT grp_a), 0) AS HUGEINT) AS s_b
  FROM base GROUP BY event_type
),
tobs AS (
  SELECT event_type, n_a, n_b,
         abs(s_a * n_b - s_b * n_a) AS t_obs
  FROM obs
),
perm AS (
  SELECT b.event_type, u.k,
         CASE WHEN (({_PERM_HASH_SQL}) & 1) = 0
              THEN TRUE ELSE FALSE END AS pa,
         b.cents
  FROM base b, UNNEST(range(1, {_PERM_K} + 1)) u(k)
),
pt AS (
  SELECT event_type, k,
         abs(CAST(coalesce(sum(cents) FILTER (pa), 0) AS HUGEINT)
               * count(*) FILTER (NOT pa)
             - CAST(coalesce(sum(cents) FILTER (NOT pa), 0) AS HUGEINT)
               * count(*) FILTER (pa)) AS t_k
  FROM perm GROUP BY event_type, k
)
SELECT t.event_type, t.n_a, t.n_b,
       CAST(t.t_obs AS BIGINT) AS t_obs,
       CAST(count(*) FILTER (p.t_k >= t.t_obs) AS BIGINT) AS n_extreme,
       CAST((1000 * (1 + count(*) FILTER (p.t_k >= t.t_obs)))
            // ({_PERM_K} + 1) AS BIGINT) AS p_permille
FROM tobs t JOIN pt p USING (event_type)
GROUP BY t.event_type, t.n_a, t.n_b, t.t_obs
"""


@query("perm1_randomization_test", oracle=_PERM_SQL)
def perm1_randomization_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Randomization test for the per-type A/B mean difference
    (Edgington & Onghena, "Randomization Tests"; Fisher 1935): the
    observed cross-multiplied mean-gap statistic |s_A·n_B − s_B·n_A|
    is compared against {_PERM_K} deterministic random REASSIGNMENTS
    of events to arms, and the Monte-Carlo p-value is
    (1 + #extreme)/({_PERM_K} + 1) — the distribution-free companion
    to ab2's normal-theory z-test (which assumes large-n normality
    this test does not need). Reassignments draw from the md5-family
    hash of (round, event_id) — the dp1/samp1 deterministic-
    randomness rule — so both engines replay the identical "random"
    splits bit-for-bit. (Bernoulli reassignment rather than exact
    size-preserving permutation — Edgington's randomization-test
    variant; the cross-multiplied statistic is size-free, so unequal
    split sizes cost variance, not bias.)

    Exactness: values fix-point to cents (the ab1/ab2 rule); every
    statistic is exact HUGEINT/DECIMAL(38,0) integer arithmetic; the
    p-value is one integral permille division by the constant
    {_PERM_K}+1. NULL-valued events are excluded on both engines;
    NULL event_ids hash to NULL and land in arm B by the same CASE.

    Scale shape: the only fan-out is events × {_PERM_K} feeding ONE
    map-side-combinable (type, k) aggregate — partial sums collapse
    each partition to ≤ types·{_PERM_K} rows before the exchange; the
    observed arm is one more pass of the same shape; the final join
    touches types×{_PERM_K} rows. No sort, no window, no pairwise."""
    ev = load_spread(spark, sf_dir, "events").filter(
        F.col("value").isNotNull() & F.col("event_type").isNotNull()
    )
    base = ev.select(
        "event_type",
        "event_id",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
        (F.col("user_id") % 2 == 0).alias("grp_a"),
    )
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731

    def arm_sums(df, flag):
        return [
            F.count(F.when(flag, 1)).cast("long"),
            F.coalesce(F.sum(F.when(flag, F.col("cents"))), F.lit(0)).cast(
                "decimal(38,0)"
            ),
        ]

    na, sa = arm_sums(base, F.col("grp_a"))
    nb, sb = arm_sums(base, ~F.col("grp_a"))
    tobs = base.groupBy("event_type").agg(
        na.alias("n_a"), sa.alias("s_a"), nb.alias("n_b"), sb.alias("s_b")
    ).select(
        "event_type",
        "n_a",
        "n_b",
        F.abs(
            F.col("s_a") * F.col("n_b") - F.col("s_b") * F.col("n_a")
        ).alias("t_obs"),
    )
    perm = base.select(
        "event_type",
        "cents",
        F.explode(F.sequence(F.lit(1), F.lit(_PERM_K))).alias("k"),
        "event_id",
    ).select(
        "event_type",
        "k",
        "cents",
        (
            ce_hash64(
                F.concat(
                    F.lit("perm|"),
                    F.col("k").cast("string"),
                    F.lit("|"),
                    F.col("event_id").cast("string"),
                )
            ).bitwiseAND(F.lit(1))
            == 0
        ).alias("pa"),
    )
    pna, psa = arm_sums(perm, F.col("pa"))
    pnb, psb = arm_sums(perm, ~F.col("pa"))
    pt = perm.groupBy("event_type", "k").agg(
        pna.alias("pn_a"), psa.alias("ps_a"), pnb.alias("pn_b"), psb.alias("ps_b")
    ).select(
        "event_type",
        "k",
        F.abs(
            F.col("ps_a") * F.col("pn_b") - F.col("ps_b") * F.col("pn_a")
        ).alias("t_k"),
    )
    return (
        tobs.join(pt, "event_type")
        .groupBy("event_type", "n_a", "n_b", "t_obs")
        .agg(
            F.count(F.when(F.col("t_k") >= F.col("t_obs"), 1))
            .cast("long")
            .alias("n_extreme"),
            F.expr(
                f"CAST((1000 * (1 + count(CASE WHEN t_k >= t_obs THEN 1 END)))"
                f" div ({_PERM_K} + 1) AS BIGINT)"
            ).alias("p_permille"),
        )
        .select(
            "event_type",
            "n_a",
            "n_b",
            # BIGINT exit (DECIMAL(38,0) fetches as float via pandas):
            # |s·n| is bounded well under 2^63 at any bench SF; the
            # HUGEINT/DECIMAL comparison arithmetic above stays wide
            F.col("t_obs").cast("long").alias("t_obs"),
            "n_extreme",
            "p_permille",
        )
    )


# --------------------------------------------------------------------------
# surv1 — Kaplan-Meier user-retention survival curve (round 10)
# --------------------------------------------------------------------------

_SURV_CENS_DAYS = 7  # right-censoring horizon: still-active tail window

_SURV_SQL = f"""
WITH ev AS (
  SELECT user_id, CAST(ts AS DATE) AS d
  FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
),
mx AS (SELECT max(d) AS mxd FROM ev),
u AS (
  SELECT user_id,
         CAST(date_diff('day', min(d), max(d)) AS BIGINT) AS lt,
         date_diff('day', max(d), (SELECT mxd FROM mx))
           < {_SURV_CENS_DAYS} AS cens
  FROM ev GROUP BY user_id
),
lt AS (
  SELECT lt,
         CAST(count(*) FILTER (NOT cens) AS BIGINT) AS d,
         CAST(count(*) FILTER (cens) AS BIGINT) AS c
  FROM u GROUP BY lt
),
r AS (
  SELECT lt, d, c,
         CAST(sum(d + c) OVER (
           ORDER BY lt DESC
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS BIGINT) AS n_risk
  FROM lt
),
t AS (
  SELECT lt, d, c, n_risk,
         CASE
           WHEN d > 0 AND d < n_risk THEN
             CAST(round(round(ln(CAST(n_risk - d AS DOUBLE)
                                 / CAST(n_risk AS DOUBLE)), 6) * 1e6)
                  AS BIGINT)
           WHEN d = 0 THEN CAST(0 AS BIGINT)
           ELSE NULL
         END AS term,
         CASE WHEN d >= n_risk THEN 1 ELSE 0 END AS dead
  FROM r
)
SELECT lt AS lt_days, n_risk, d AS n_churn, c AS n_censored,
       CASE WHEN max(dead) OVER (
              ORDER BY lt
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) = 1
            THEN NULL
            ELSE CAST(coalesce(sum(term) OVER (
              ORDER BY lt
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0)
              AS BIGINT)
       END AS log_surv_micro
FROM t
"""


@query("surv1_kaplan_meier", oracle=_SURV_SQL)
def surv1_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier user-retention survival curve (Kaplan & Meier
    1958, "Nonparametric estimation from incomplete observations"):
    per-user lifetime = days between first and last event; users whose
    last event falls within the final {_SURV_CENS_DAYS} days of the
    corpus window are RIGHT-CENSORED at their observed lifetime (they
    may still be active — dropping them would bias retention low, the
    exact problem KM's risk-set construction solves). At each distinct
    lifetime t: n_risk = users with lifetime >= t, n_churn = observed
    churns at t, and S(t) = prod_(s<=t) (1 - d_s/n_s) — surfaced in
    LOG space as cumulative micro-nats (sum of round(1e6*ln((n-d)/n)),
    the zipf1/dd1/ppx1 idiom: (n-d) and n are exact BIGINTs <= 2^53,
    their ONE IEEE division is bit-identical in both engines, and the
    6dp-then-1e6 double-round pins the libm ln). The curve goes to
    S = 0 exactly when the largest lifetime is an uncensored churn
    (d = n_risk): log is undefined there, so the row and everything
    after carry NULL via a running max-of-dead flag — never -inf, and
    never a silently-skipped term.

    Scale shape: one (user) groupBy (map-side combinable min/max), a
    1-row broadcast corpus max-date, one (lifetime) groupBy, then
    windows over the LIFETIME SPINE ONLY — bounded by the corpus
    calendar span (<= days, here <= 30), never by users or events; the
    unpartitioned window is the gap1/cpd1 bounded-spine precedent.
    This is the churn/retention readout a training-data freshness or
    engagement pipeline runs; censoring-aware unlike a naive
    'fraction alive at t' which ignores the observation boundary."""
    ev = load(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull() & F.col("user_id").isNotNull()
    )
    days = ev.select("user_id", F.to_date("ts").alias("d"))
    mx = days.agg(F.max("d").alias("mxd"))
    u = (
        days.groupBy("user_id")
        .agg(F.min("d").alias("fd"), F.max("d").alias("ld"))
        .crossJoin(F.broadcast(mx))
        .select(
            F.datediff("ld", "fd").cast("long").alias("lt"),
            (F.datediff("mxd", "ld") < _SURV_CENS_DAYS).alias("cens"),
        )
    )
    lt = u.groupBy("lt").agg(
        F.count(F.when(~F.col("cens"), 1)).cast("long").alias("d"),
        F.count(F.when(F.col("cens"), 1)).cast("long").alias("c"),
    )
    w_desc = Window.orderBy(F.col("lt").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    r = lt.select(
        "lt",
        "d",
        "c",
        F.sum(F.col("d") + F.col("c")).over(w_desc).cast("long").alias(
            "n_risk"
        ),
    )
    term = (
        F.when(
            (F.col("d") > 0) & (F.col("d") < F.col("n_risk")),
            F.round(
                F.round(
                    F.log(
                        (F.col("n_risk") - F.col("d")).cast("double")
                        / F.col("n_risk").cast("double")
                    ),
                    6,
                )
                * 1e6
            ).cast("long"),
        )
        .when(F.col("d") == 0, F.lit(0).cast("long"))
        .otherwise(F.lit(None).cast("long"))
    )
    dead = F.when(F.col("d") >= F.col("n_risk"), 1).otherwise(0)
    t = r.select("lt", "d", "c", "n_risk", term.alias("term"),
                 dead.alias("dead"))
    w_asc = Window.orderBy("lt").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return t.select(
        F.col("lt").alias("lt_days"),
        "n_risk",
        F.col("d").alias("n_churn"),
        F.col("c").alias("n_censored"),
        F.when(F.max("dead").over(w_asc) == 1, F.lit(None).cast("long"))
        .otherwise(
            F.coalesce(F.sum("term").over(w_asc), F.lit(0)).cast("long")
        )
        .alias("log_surv_micro"),
    )


# --------------------------------------------------------------------------
# emd1 — exact 1-D Wasserstein (earth-mover) length drift per source
# --------------------------------------------------------------------------

_EMD_SQL = """
WITH docs AS (
  SELECT source, n_chars AS v FROM documents
  WHERE source IS NOT NULL AND n_chars IS NOT NULL
),
tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM docs),
srcs AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_a FROM docs GROUP BY source
),
spine AS (
  SELECT v, CAST(count(*) AS BIGINT) AS cnt_t FROM docs GROUP BY v
),
spine_cum AS (
  SELECT v, cnt_t,
         CAST(sum(cnt_t) OVER (
           ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS BIGINT) AS cum_t,
         CAST(coalesce(lead(v) OVER (ORDER BY v) - v, 0) AS BIGINT) AS gap
  FROM spine
),
sv AS (
  SELECT source, v, CAST(count(*) AS BIGINT) AS cnt_a
  FROM docs GROUP BY source, v
),
grid AS (
  SELECT s.source, s.n_a, p.v, p.cum_t, p.gap,
         CAST(sum(coalesce(sv.cnt_a, 0)) OVER (
           PARTITION BY s.source ORDER BY p.v
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS BIGINT) AS cum_a
  FROM srcs s CROSS JOIN spine_cum p
  LEFT JOIN sv ON sv.source = s.source AND sv.v = p.v
)
SELECT g.source, g.n_a AS n_docs,
       CAST(sum(abs(CAST(g.cum_a AS HUGEINT) * (t.n - g.n_a)
                    - CAST(g.cum_t - g.cum_a AS HUGEINT) * g.n_a)
                * g.gap) AS BIGINT) AS w1_num,
       CAST((1000000 * CAST(sum(abs(CAST(g.cum_a AS HUGEINT) * (t.n - g.n_a)
                    - CAST(g.cum_t - g.cum_a AS HUGEINT) * g.n_a)
                * g.gap) AS HUGEINT))
            // NULLIF(CAST(g.n_a AS HUGEINT) * (t.n - g.n_a), 0)
            AS BIGINT) AS w1_chars_micro
FROM grid g CROSS JOIN tot t
GROUP BY g.source, g.n_a, t.n
"""


@query("emd1_wasserstein_length_drift", oracle=_EMD_SQL)
def emd1_wasserstein_length_drift(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Exact 1-D Wasserstein-1 (earth-mover) distance between each
    source's document-length distribution and the REST of the corpus
    (leave-one-source-out), via the closed form W1 = integral of
    |F_A(x) - F_B(x)| dx (Vallender 1974; the Cramer/EMD identity for
    the real line): sum over consecutive spine values of the
    cross-multiplied CDF gap |cumA*N_B - cumB*N_A| times the value gap
    to the next spine point. Complements ks1 (sup-norm CDF gap: a
    LOCAL worst-point statistic) and drift1 (bucketed TVD: bucket-
    width-sensitive) — W1 is the metric that feels HOW FAR the mass
    moved, the standard distribution-shift monitor for data-mixture
    rebalancing.

    Exactness: counts are BIGINTs; the CDF gap cross-multiplies to
    HUGEINT/DECIMAL(38,0) (never a float CDF); the only division is
    the final integral micro division by N_A*N_B (all-non-negative, so
    Spark's truncating div == DuckDB's flooring //), NULL for a
    single-source corpus (N_B = 0).

    Scale shape: two map-side-combinable groupBys build the value
    spine (bounded by the length DOMAIN, ~500 values here, never by
    docs) and the per-(source, value) counts; the grid is
    sources x spine (bounded x bounded) built from a broadcast-sized
    cross join; windows partition by source over the bounded spine.
    At 100 TB the length domain stays bounded (cap or bucket the tail)
    and every corpus-sized pass is a counting aggregate."""
    docs = (
        load(spark, sf_dir, "documents")
        .filter(F.col("source").isNotNull() & F.col("n_chars").isNotNull())
        .select("source", F.col("n_chars").alias("v"))
    )
    tot = docs.agg(F.count("*").cast("long").alias("n"))
    srcs = docs.groupBy("source").agg(F.count("*").cast("long").alias("n_a"))
    spine = docs.groupBy("v").agg(F.count("*").cast("long").alias("cnt_t"))
    w_spine = Window.orderBy("v").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    spine_cum = spine.select(
        "v",
        F.sum("cnt_t").over(w_spine).cast("long").alias("cum_t"),
        F.coalesce(
            F.lead("v").over(Window.orderBy("v")) - F.col("v"), F.lit(0)
        )
        .cast("long")
        .alias("gap"),
    )
    sv = docs.groupBy("source", "v").agg(
        F.count("*").cast("long").alias("cnt_a")
    )
    grid = (
        srcs.crossJoin(F.broadcast(spine_cum))
        .join(sv, ["source", "v"], "left")
        .select(
            "source",
            "n_a",
            "v",
            "cum_t",
            "gap",
            F.coalesce(F.col("cnt_a"), F.lit(0)).alias("cnt_a"),
        )
        .withColumn(
            "cum_a",
            F.sum("cnt_a")
            .over(
                Window.partitionBy("source")
                .orderBy("v")
                .rowsBetween(Window.unboundedPreceding, Window.currentRow)
            )
            .cast("long"),
        )
    )
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    term = (
        F.abs(
            dec(F.col("cum_a")) * (F.col("n") - F.col("n_a"))
            - dec(F.col("cum_t") - F.col("cum_a")) * F.col("n_a")
        )
        * F.col("gap")
    )
    return (
        grid.crossJoin(F.broadcast(tot))
        .groupBy("source", "n_a", "n")
        .agg(F.sum(term).alias("w1"))
        .select(
            "source",
            F.col("n_a").alias("n_docs"),
            F.col("w1").cast("long").alias("w1_num"),
            F.expr(
                "CAST((1000000 * w1) div"
                " nullif(CAST(n_a AS DECIMAL(38,0)) * (n - n_a), 0)"
                " AS BIGINT)"
            ).alias("w1_chars_micro"),
        )
    )


# --------------------------------------------------------------------------
# loo1 — leave-one-source-out corpus ablation deltas (round 10)
# --------------------------------------------------------------------------

_LOO_SQL = """
WITH docs AS (
  SELECT source, CAST(n_chars AS HUGEINT) AS ch FROM documents
  WHERE source IS NOT NULL AND n_chars IS NOT NULL
),
tot AS (
  SELECT CAST(count(*) AS HUGEINT) AS d, CAST(sum(ch) AS HUGEINT) AS c
  FROM docs
),
src AS (
  SELECT source, CAST(count(*) AS HUGEINT) AS d_s,
         CAST(sum(ch) AS HUGEINT) AS c_s
  FROM docs GROUP BY source
)
SELECT s.source,
       CAST(s.d_s AS BIGINT) AS n_docs,
       CAST(s.c_s AS BIGINT) AS n_chars,
       CAST((1000000 * t.c) // t.d AS BIGINT) AS base_mean_micro,
       CAST((1000000 * (t.c - s.c_s)) // NULLIF(t.d - s.d_s, 0) AS BIGINT)
         AS loo_mean_micro,
       CASE WHEN t.c * s.d_s > s.c_s * t.d THEN 1
            WHEN t.c * s.d_s < s.c_s * t.d THEN -1 ELSE 0 END AS delta_sign,
       CAST((1000000 * abs(t.c * s.d_s - s.c_s * t.d))
            // NULLIF(t.d * (t.d - s.d_s), 0) AS BIGINT)
         AS abs_delta_micro
FROM src s CROSS JOIN tot t
"""


@query("loo1_source_ablation", oracle=_LOO_SQL)
def loo1_source_ablation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-source-out ablation of the corpus mean document
    length: for every source, what the corpus-level metric becomes
    when that source is REMOVED — the cheapest member of the
    data-ablation family (Ilyas et al. datamodels / influence-style
    source attribution reduced to an exact closed form for a mean
    statistic). A mixture designer reads delta_sign/abs_delta to see
    which sources pull the corpus composition where, BEFORE paying for
    a retraining-based ablation; the same shape applies to any
    sum-over-count metric (quality rate, token budget, dup rate).

    Exactness: the LOO delta (C - c_s)/(D - d_s) - C/D cross-
    multiplies to (C*d_s - c_s*D) / (D*(D - d_s)) — numerator sign is
    an exact integer comparison (no subtraction of floored values),
    magnitude exits as ONE integral micro division of non-negative
    integers (Spark div == DuckDB // on non-negatives; sign carried
    separately because the two engines floor negatives differently —
    the aniso1 rule). NULLs for a single-source corpus.

    Scale shape: one map-side-combinable (source) groupBy plus a 1-row
    corpus total broadcast-cross-joined onto the n_sources-row table;
    everything after the two counting passes is bounded by the source
    count. Zero windows, zero per-doc joins."""
    docs = (
        load(spark, sf_dir, "documents")
        .filter(F.col("source").isNotNull() & F.col("n_chars").isNotNull())
        .select("source", F.col("n_chars").cast("decimal(38,0)").alias("ch"))
    )
    tot = docs.agg(
        F.count("*").cast("decimal(38,0)").alias("d"),
        F.sum("ch").cast("decimal(38,0)").alias("c"),
    )
    src = docs.groupBy("source").agg(
        F.count("*").cast("decimal(38,0)").alias("d_s"),
        F.sum("ch").cast("decimal(38,0)").alias("c_s"),
    )
    return src.crossJoin(F.broadcast(tot)).select(
        "source",
        F.col("d_s").cast("long").alias("n_docs"),
        F.col("c_s").cast("long").alias("n_chars"),
        F.expr("CAST((1000000 * c) div d AS BIGINT)").alias(
            "base_mean_micro"
        ),
        F.expr(
            "CAST((1000000 * (c - c_s)) div nullif(d - d_s, 0) AS BIGINT)"
        ).alias("loo_mean_micro"),
        F.when(F.col("c") * F.col("d_s") > F.col("c_s") * F.col("d"), 1)
        .when(F.col("c") * F.col("d_s") < F.col("c_s") * F.col("d"), -1)
        .otherwise(0)
        .cast("int")
        .alias("delta_sign"),
        F.expr(
            "CAST((1000000 * abs(c * d_s - c_s * d))"
            " div nullif(d * (d - d_s), 0) AS BIGINT)"
        ).alias("abs_delta_micro"),
    )


# --------------------------------------------------------------------------
# did1 — difference-in-differences readout (round 10)
# --------------------------------------------------------------------------

_DID_SQL = """
WITH ev AS (
  SELECT event_type,
         CAST(round(value * 100) AS BIGINT) AS cents,
         user_id % 2 = 0 AS treat,
         CAST(ts AS DATE) AS d
  FROM events
  WHERE ts IS NOT NULL AND value IS NOT NULL
    AND event_type IS NOT NULL AND user_id IS NOT NULL
),
cut AS (
  SELECT min(d) + CAST(date_diff('day', min(d), max(d)) // 2
                       AS INTEGER) AS c
  FROM ev
),
cells AS (
  SELECT e.event_type,
         CAST(count(*) FILTER (e.treat AND e.d > t.c) AS HUGEINT) AS n_t1,
         CAST(coalesce(sum(e.cents) FILTER (e.treat AND e.d > t.c), 0)
              AS HUGEINT) AS s_t1,
         CAST(count(*) FILTER (e.treat AND e.d <= t.c) AS HUGEINT) AS n_t0,
         CAST(coalesce(sum(e.cents) FILTER (e.treat AND e.d <= t.c), 0)
              AS HUGEINT) AS s_t0,
         CAST(count(*) FILTER (NOT e.treat AND e.d > t.c) AS HUGEINT)
           AS n_c1,
         CAST(coalesce(sum(e.cents) FILTER (NOT e.treat AND e.d > t.c), 0)
              AS HUGEINT) AS s_c1,
         CAST(count(*) FILTER (NOT e.treat AND e.d <= t.c) AS HUGEINT)
           AS n_c0,
         CAST(coalesce(sum(e.cents) FILTER (NOT e.treat AND e.d <= t.c), 0)
              AS HUGEINT) AS s_c0
  FROM ev e CROSS JOIN cut t
  GROUP BY e.event_type
),
num AS (
  SELECT event_type, n_t1, n_t0, n_c1, n_c0,
         s_t1 * n_t0 * n_c1 * n_c0
           - s_t0 * n_t1 * n_c1 * n_c0
           - s_c1 * n_t1 * n_t0 * n_c0
           + s_c0 * n_t1 * n_t0 * n_c1 AS nm,
         n_t1 * n_t0 * n_c1 * n_c0 AS dn
  FROM cells
)
SELECT event_type,
       CAST(n_t1 AS BIGINT) AS n_treat_post,
       CAST(n_t0 AS BIGINT) AS n_treat_pre,
       CAST(n_c1 AS BIGINT) AS n_ctrl_post,
       CAST(n_c0 AS BIGINT) AS n_ctrl_pre,
       CASE WHEN nm > 0 THEN 1 WHEN nm < 0 THEN -1 ELSE 0 END AS did_sign,
       CAST((1000000 * abs(nm)) // NULLIF(dn, 0) AS BIGINT)
         AS abs_did_cents_micro
FROM num
"""


@query("did1_diff_in_diff", oracle=_DID_SQL)
def did1_diff_in_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences readout per event type (Card &
    Krueger 1994; the workhorse panel-data causal estimator):
    DiD = (mean_treat_post - mean_treat_pre) -
    (mean_ctrl_post - mean_ctrl_pre) on exact-cents event values,
    with the deterministic user-parity arm (the ab1/ab2/perm1
    pre-registered assignment) and the corpus-midpoint date as the
    intervention cut. Where ab2 compares two arms at one time, DiD
    nets out the SHARED time trend — the estimator an experimentation
    pipeline reaches for when the rollout was staggered rather than
    randomized per-event.

    Exactness: the four cell means never materialize as floats — the
    DiD collapses over the common denominator n_t1*n_t0*n_c1*n_c0
    into ONE exact HUGEINT/DECIMAL(38,0) numerator (four products of
    a cents-sum with three counts), sign by integer comparison,
    magnitude by one integral micro division of non-negatives
    (div == //), NULL when any cell is empty. The midpoint cut is
    pure date integer arithmetic off the 1-row corpus bounds.

    Scale shape: one 1-row bounds aggregate broadcast onto the
    stream, then ONE map-side-combinable (type) groupBy computing all
    eight FILTERed cell aggregates in a single pass — no self-join,
    no window, no second scan."""
    ev = load(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull()
        & F.col("value").isNotNull()
        & F.col("event_type").isNotNull()
        & F.col("user_id").isNotNull()
    ).select(
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
        (F.col("user_id") % 2 == 0).alias("treat"),
        F.to_date("ts").alias("d"),
    )
    cut = ev.agg(
        F.expr(
            "date_add(min(d), CAST(datediff(max(d), min(d)) div 2 AS INT))"
        ).alias("c")
    )
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731

    def cell(flag, agg):
        if agg == "n":
            return F.count(F.when(flag, 1)).cast("decimal(38,0)")
        return F.coalesce(
            F.sum(F.when(flag, F.col("cents"))), F.lit(0)
        ).cast("decimal(38,0)")

    post = F.col("d") > F.col("c")
    t = F.col("treat")
    cells = (
        ev.crossJoin(F.broadcast(cut))
        .groupBy("event_type")
        .agg(
            cell(t & post, "n").alias("n_t1"),
            cell(t & post, "s").alias("s_t1"),
            cell(t & ~post, "n").alias("n_t0"),
            cell(t & ~post, "s").alias("s_t0"),
            cell(~t & post, "n").alias("n_c1"),
            cell(~t & post, "s").alias("s_c1"),
            cell(~t & ~post, "n").alias("n_c0"),
            cell(~t & ~post, "s").alias("s_c0"),
        )
    )
    nm = (
        F.col("s_t1") * F.col("n_t0") * F.col("n_c1") * F.col("n_c0")
        - F.col("s_t0") * F.col("n_t1") * F.col("n_c1") * F.col("n_c0")
        - F.col("s_c1") * F.col("n_t1") * F.col("n_t0") * F.col("n_c0")
        + F.col("s_c0") * F.col("n_t1") * F.col("n_t0") * F.col("n_c1")
    )
    dn = F.col("n_t1") * F.col("n_t0") * F.col("n_c1") * F.col("n_c0")
    return cells.select(
        "event_type",
        F.col("n_t1").cast("long").alias("n_treat_post"),
        F.col("n_t0").cast("long").alias("n_treat_pre"),
        F.col("n_c1").cast("long").alias("n_ctrl_post"),
        F.col("n_c0").cast("long").alias("n_ctrl_pre"),
        F.when(nm > 0, 1).when(nm < 0, -1).otherwise(0).cast("int").alias(
            "did_sign"
        ),
        (
            (F.lit(1000000).cast("decimal(38,0)") * F.abs(nm))
            .cast("decimal(38,0)")
        ).alias("_num_tmp"),
        dn.alias("_den_tmp"),
    ).select(
        "event_type",
        "n_treat_post",
        "n_treat_pre",
        "n_ctrl_post",
        "n_ctrl_pre",
        "did_sign",
        F.expr(
            "CAST(_num_tmp div nullif(_den_tmp, 0) AS BIGINT)"
        ).alias("abs_did_cents_micro"),
    )


# --------------------------------------------------------------------------
# bh1 — Benjamini-Hochberg FDR over per-source drift tests (round 10)
# --------------------------------------------------------------------------

_BH_K = 20  # Monte-Carlo reassignment rounds per hypothesis
_BH_GRID = 1_048_576  # 2^20 rate-matching grid for the null assignment

_BH_HASH_SQL = CE_HASH64_SQL.format(
    h="md5('bh|' || s.source || '|' || CAST(u.k AS VARCHAR) || '|'"
    " || CAST(b.doc_id AS VARCHAR))"
)

_BH_SQL = f"""
WITH base AS (
  SELECT doc_id, source, CAST(n_chars AS HUGEINT) AS ch
  FROM documents
  WHERE source IS NOT NULL AND n_chars IS NOT NULL AND doc_id IS NOT NULL
),
tot AS (
  SELECT CAST(count(*) AS HUGEINT) AS n, CAST(sum(ch) AS HUGEINT) AS t
  FROM base
),
srcs AS (
  SELECT source, CAST(count(*) AS HUGEINT) AS n_a,
         CAST(sum(ch) AS HUGEINT) AS s_a
  FROM base GROUP BY source
),
obs AS (
  SELECT s.source, s.n_a, s.s_a,
         abs(s.s_a * (t.n - s.n_a) - (t.t - s.s_a) * s.n_a) AS t_obs,
         ({_BH_GRID} * s.n_a) // t.n AS thr
  FROM srcs s CROSS JOIN tot t
),
perm AS (
  SELECT s.source, u.k,
         CAST(count(*) FILTER (({_BH_HASH_SQL}) & {_BH_GRID - 1} < s.thr)
              AS HUGEINT) AS pn_a,
         CAST(coalesce(sum(b.ch) FILTER (
                ({_BH_HASH_SQL}) & {_BH_GRID - 1} < s.thr), 0)
              AS HUGEINT) AS ps_a
  FROM base b
  CROSS JOIN obs s
  CROSS JOIN UNNEST(range(1, {_BH_K} + 1)) u(k)
  GROUP BY s.source, u.k
),
pvals AS (
  SELECT o.source, o.n_a, o.t_obs,
         CAST((1000 * (1 + count(*) FILTER (
                abs(p.ps_a * (t.n - p.pn_a) - (t.t - p.ps_a) * p.pn_a)
                  >= o.t_obs)))
              // ({_BH_K} + 1) AS BIGINT) AS p_permille
  FROM obs o
  JOIN perm p USING (source)
  CROSS JOIN tot t
  GROUP BY o.source, o.n_a, o.t_obs, t.n, t.t
),
ranked AS (
  SELECT source, n_a, p_permille,
         row_number() OVER (ORDER BY p_permille, source) AS rk,
         count(*) OVER () AS m
  FROM pvals
),
kmax AS (
  SELECT coalesce(max(rk) FILTER (p_permille * m <= 50 * rk), 0) AS kx
  FROM ranked
)
SELECT r.source, CAST(r.n_a AS BIGINT) AS n_docs, r.p_permille,
       CAST(r.rk AS BIGINT) AS bh_rank,
       CASE WHEN r.rk <= k.kx THEN 1 ELSE 0 END AS rejected
FROM ranked r CROSS JOIN kmax k
"""


@query("bh1_fdr_source_drift", oracle=_BH_SQL)
def bh1_fdr_source_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benjamini-Hochberg FDR-controlled per-source drift discovery
    (Benjamini & Hochberg 1995, the most-used multiple-testing
    procedure in existence): each source is tested for a mean-length
    shift against the rest of the corpus with a perm1-style
    deterministic Monte-Carlo randomization test, and the resulting
    p-values pass through the BH STEP-UP rule — reject the k lowest
    p-values where k is the largest rank with p_(k) <= alpha*k/m —
    so a 20-source monitor does not fire 1-in-20 false alarms every
    run the way 20 naive alpha = .05 tests would. The null
    reassignment is RATE-MATCHED: a doc joins the pseudo-arm when its
    md5-family hash lands under floor(2^20 * n_a/N) on the 2^20 grid,
    preserving the observed arm size in expectation (fixing the
    variance mismatch a 50/50 Bernoulli null would have against a
    5%-sized source arm).

    Exactness: the test statistic |s_A*n_B - s_B*n_A| is the exact
    cross-multiplied mean gap in HUGEINT/DECIMAL(38,0); p-values are
    one integral permille division by the constant {_BH_K}+1; the BH
    inequality p/1000 <= 0.05*k/m clears denominators to the pure
    integer form p*m <= 50*k; ties on p break by source name
    identically in both engines, and step-up rejects by rank <= max
    passing rank, so tie order cannot change the rejection SET.

    Scale shape: the corpus-sized work is ONE pass over
    docs x sources x {_BH_K} rounds feeding a map-side-combinable
    (source, k) aggregate (partials collapse to m*{_BH_K} rows per
    partition before the exchange); everything after — p-values,
    ranking, step-up — runs on the m-row table with windows over m
    rows. At 100 TB with bounded m the fan-out stays linear in the
    corpus."""
    base = (
        load_spread(spark, sf_dir, "documents")
        .filter(
            F.col("source").isNotNull()
            & F.col("n_chars").isNotNull()
            & F.col("doc_id").isNotNull()
        )
        .select(
            "doc_id",
            "source",
            F.col("n_chars").cast("decimal(38,0)").alias("ch"),
        )
    )
    tot = base.agg(
        F.count("*").cast("decimal(38,0)").alias("n"),
        F.sum("ch").cast("decimal(38,0)").alias("t"),
    )
    srcs = base.groupBy("source").agg(
        F.count("*").cast("decimal(38,0)").alias("n_a"),
        F.sum("ch").cast("decimal(38,0)").alias("s_a"),
    )
    obs = srcs.crossJoin(F.broadcast(tot)).select(
        F.col("source").alias("s_hyp"),
        "n_a",
        F.abs(
            F.col("s_a") * (F.col("n") - F.col("n_a"))
            - (F.col("t") - F.col("s_a")) * F.col("n_a")
        ).alias("t_obs"),
        F.expr(f"CAST(({_BH_GRID} * n_a) div n AS BIGINT)").alias("thr"),
    )
    h = ce_hash64(
        F.concat(
            F.lit("bh|"),
            F.col("s_hyp"),
            F.lit("|"),
            F.col("k").cast("string"),
            F.lit("|"),
            F.col("doc_id").cast("string"),
        )
    )
    in_arm = (h.bitwiseAND(F.lit(_BH_GRID - 1))) < F.col("thr")
    perm = (
        base.crossJoin(
            F.broadcast(
                obs.select(
                    "s_hyp",
                    "thr",
                    F.explode(
                        F.sequence(F.lit(1), F.lit(_BH_K))
                    ).alias("k"),
                )
            )
        )
        .groupBy("s_hyp", "k")
        .agg(
            F.count(F.when(in_arm, 1)).cast("decimal(38,0)").alias("pn_a"),
            F.coalesce(F.sum(F.when(in_arm, F.col("ch"))), F.lit(0))
            .cast("decimal(38,0)")
            .alias("ps_a"),
        )
    )
    t_k = F.abs(
        F.col("ps_a") * (F.col("n") - F.col("pn_a"))
        - (F.col("t") - F.col("ps_a")) * F.col("pn_a")
    )
    pvals = (
        obs.join(perm, "s_hyp")
        .crossJoin(F.broadcast(tot))
        .groupBy("s_hyp", "n_a", "t_obs")
        .agg(
            F.expr(
                f"CAST((1000 * (1 + count(CASE WHEN"
                f" abs(ps_a * (n - pn_a) - (t - ps_a) * pn_a) >= t_obs"
                f" THEN 1 END))) div ({_BH_K} + 1) AS BIGINT)"
            ).alias("p_permille")
        )
    )
    ranked = pvals.select(
        F.col("s_hyp").alias("source"),
        "n_a",
        "p_permille",
        F.row_number()
        .over(Window.orderBy("p_permille", "s_hyp"))
        .alias("rk"),
        F.count("*")
        .over(
            Window.rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        )
        .alias("m"),
    )
    kmax = ranked.agg(
        F.coalesce(
            F.max(
                F.when(
                    F.col("p_permille") * F.col("m") <= 50 * F.col("rk"),
                    F.col("rk"),
                )
            ),
            F.lit(0),
        ).alias("kx")
    )
    return ranked.crossJoin(F.broadcast(kmax)).select(
        "source",
        F.col("n_a").cast("long").alias("n_docs"),
        "p_permille",
        F.col("rk").cast("long").alias("bh_rank"),
        F.when(F.col("rk") <= F.col("kx"), 1)
        .otherwise(0)
        .cast("int")
        .alias("rejected"),
    )


# --------------------------------------------------------------------------
# lrk1 — log-rank test between two retention arms (round 10)
# --------------------------------------------------------------------------

# sign-safe exact floor of (1e6*num)/den for den > 0 (the mk1 OFF-shift):
# (1e6*num + OFF*den) div den - OFF == floor(1e6*num/den) while
# 1e6*|num| <= OFF*den — OFF = 1e12 holds through one million at-risk users
_LRK_OFF = 1_000_000_000_000

_LRK_SQL = f"""
WITH ev AS (
  SELECT user_id, CAST(ts AS DATE) AS d
  FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
),
mx AS (SELECT max(d) AS mxd FROM ev),
u AS (
  SELECT user_id,
         user_id % 2 = 0 AS arm_a,
         CAST(date_diff('day', min(d), max(d)) AS BIGINT) AS lt,
         date_diff('day', max(d), (SELECT mxd FROM mx))
           < {_SURV_CENS_DAYS} AS cens
  FROM ev GROUP BY user_id
),
lt AS (
  SELECT lt,
         CAST(count(*) FILTER (arm_a AND NOT cens) AS BIGINT) AS d1,
         CAST(count(*) FILTER (arm_a AND cens) AS BIGINT) AS c1,
         CAST(count(*) FILTER (NOT arm_a AND NOT cens) AS BIGINT) AS d2,
         CAST(count(*) FILTER (NOT arm_a AND cens) AS BIGINT) AS c2
  FROM u GROUP BY lt
),
r AS (
  SELECT lt, d1, d2,
         CAST(sum(d1 + c1) OVER (
           ORDER BY lt DESC
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS BIGINT) AS n1,
         CAST(sum(d2 + c2) OVER (
           ORDER BY lt DESC
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS BIGINT) AS n2
  FROM lt
),
terms AS (
  SELECT lt, d1, d2, n1, n2, n1 + n2 AS nt, d1 + d2 AS dt
  FROM r WHERE d1 + d2 > 0
),
q AS (
  SELECT CAST(count(*) AS BIGINT) AS n_event_times,
         CAST(sum((1000000 * (d1 * nt - dt * n1) + {_LRK_OFF} * nt)
                  // nt - {_LRK_OFF}) AS BIGINT) AS oe_micro,
         CAST(coalesce(sum(CASE WHEN nt > 1 THEN
                (1000000 * CAST(dt * n1 AS HUGEINT) * n2 * (nt - dt))
                // (CAST(nt AS HUGEINT) * nt * (nt - 1)) END), 0)
              AS BIGINT) AS var_micro
  FROM terms
),
arms AS (
  SELECT CAST(count(*) FILTER (arm_a) AS BIGINT) AS n_users_a,
         CAST(count(*) FILTER (NOT arm_a) AS BIGINT) AS n_users_b
  FROM u
)
SELECT a.n_users_a, a.n_users_b, q.n_event_times, q.oe_micro, q.var_micro,
       CASE WHEN CAST(1000000 AS HUGEINT) * q.oe_micro * q.oe_micro
                 > CAST(3841459000000 AS HUGEINT) * q.var_micro
            THEN 1 ELSE 0 END AS chi2_sig_05
FROM q CROSS JOIN arms a
"""


@query("lrk1_logrank_test", oracle=_LRK_SQL)
def lrk1_logrank_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log-rank (Mantel-Cox) test comparing the retention curves of
    the two deterministic user arms (Mantel 1966; Peto & Peto 1972) —
    the censoring-aware complement to ab2's mean test: at every churn
    time t the observed arm-A churns d1_t are compared against the
    hypergeometric expectation dt*n1_t/nt given the at-risk sets, and
    Z^2 = (sum(O-E))^2 / sum(V) with V_t = dt*n1*n2*(nt-dt) /
    (nt^2*(nt-1)). A naive end-of-window churn-rate comparison is
    biased by exactly the censoring surv1 models; the log-rank
    statistic is the standard fix and THE standard two-sample
    survival test.

    Exactness: risk sets and churn counts are BIGINTs off surv1's
    lifetime/censoring construction; each O-E term quantizes by ONE
    sign-safe exact floor ((1e6*num + OFF*nt) div nt - OFF =
    floor(1e6*num/nt), the mk1 shift — never a trunc-vs-floor
    negative split); each variance term is a non-negative integral
    micro division (div == //, skipped when nt = 1 where V = 0); the
    alpha = .05 gate clears denominators into the pure integer form
    1e6*oe^2 > 3841459e6*var (chi-square(1) critical value 3.841459,
    the ab1 constant). No doubles anywhere.

    Scale shape: identical to surv1 — one (user) groupBy, a 1-row
    broadcast max-date, one (lifetime) groupBy, then windows over the
    calendar-bounded lifetime spine and a 1-row output. The arm split
    doubles the spine columns, not the passes."""
    ev = load(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull() & F.col("user_id").isNotNull()
    )
    days = ev.select("user_id", F.to_date("ts").alias("d"))
    mx = days.agg(F.max("d").alias("mxd"))
    u = (
        days.groupBy("user_id")
        .agg(F.min("d").alias("fd"), F.max("d").alias("ld"))
        .crossJoin(F.broadcast(mx))
        .select(
            (F.col("user_id") % 2 == 0).alias("arm_a"),
            F.datediff("ld", "fd").cast("long").alias("lt"),
            (F.datediff("mxd", "ld") < _SURV_CENS_DAYS).alias("cens"),
        )
    )
    lt = u.groupBy("lt").agg(
        F.count(F.when(F.col("arm_a") & ~F.col("cens"), 1))
        .cast("long")
        .alias("d1"),
        F.count(F.when(F.col("arm_a") & F.col("cens"), 1))
        .cast("long")
        .alias("c1"),
        F.count(F.when(~F.col("arm_a") & ~F.col("cens"), 1))
        .cast("long")
        .alias("d2"),
        F.count(F.when(~F.col("arm_a") & F.col("cens"), 1))
        .cast("long")
        .alias("c2"),
    )
    w_desc = Window.orderBy(F.col("lt").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    r = lt.select(
        "lt",
        "d1",
        "d2",
        F.sum(F.col("d1") + F.col("c1")).over(w_desc).cast("long").alias(
            "n1"
        ),
        F.sum(F.col("d2") + F.col("c2")).over(w_desc).cast("long").alias(
            "n2"
        ),
    )
    terms = r.select(
        "d1",
        "d2",
        "n1",
        "n2",
        (F.col("n1") + F.col("n2")).alias("nt"),
        (F.col("d1") + F.col("d2")).alias("dt"),
    ).filter(F.col("dt") > 0)
    q = terms.agg(
        F.count("*").cast("long").alias("n_event_times"),
        F.sum(
            F.expr(
                f"(1000000 * (d1 * nt - dt * n1) + {_LRK_OFF} * nt)"
                f" div nt - {_LRK_OFF}"
            )
        )
        .cast("long")
        .alias("oe_micro"),
        F.coalesce(
            F.sum(
                F.expr(
                    "CASE WHEN nt > 1 THEN"
                    " (1000000 * CAST(dt * n1 AS DECIMAL(38,0)) * n2"
                    " * (nt - dt))"
                    " div (CAST(nt AS DECIMAL(38,0)) * nt * (nt - 1)) END"
                )
            ),
            F.lit(0),
        )
        .cast("long")
        .alias("var_micro"),
    )
    arms = u.agg(
        F.count(F.when(F.col("arm_a"), 1)).cast("long").alias("n_users_a"),
        F.count(F.when(~F.col("arm_a"), 1)).cast("long").alias("n_users_b"),
    )
    return q.crossJoin(F.broadcast(arms)).select(
        "n_users_a",
        "n_users_b",
        "n_event_times",
        "oe_micro",
        "var_micro",
        F.when(
            F.lit(1000000).cast("decimal(38,0)")
            * F.col("oe_micro")
            * F.col("oe_micro")
            > F.lit(3841459000000).cast("decimal(38,0)") * F.col("var_micro"),
            1,
        )
        .otherwise(0)
        .cast("int")
        .alias("chi2_sig_05"),
    )


# --------------------------------------------------------------------------
# rbo1 — rank-biased overlap between the two retrieval arms (round 10)
# --------------------------------------------------------------------------

_RBO_K = 20  # evaluation depth
_RBO_POWS = [(d, 9 ** (d - 1), 10**d) for d in range(1, _RBO_K + 1)]

_RBO_VALUES_SQL = ",\n  ".join(
    f"({d}, CAST('{p9}' AS HUGEINT), CAST('{p10}' AS HUGEINT))"
    for d, p9, p10 in _RBO_POWS
)

_RBO_SQL = f"""
WITH {_BM25_CTES},
lex_pool AS (
  SELECT doc_id, score FROM bm
  ORDER BY score DESC, doc_id
  LIMIT {_RRF_POOL}
),
lex AS (
  SELECT doc_id,
         CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS INTEGER)
           AS lex_rank
  FROM lex_pool
),
{_SEM_CTES},
joint AS (
  SELECT greatest(l.lex_rank, s.sem_rank) AS m
  FROM lex l JOIN sem s USING (doc_id)
),
pows(d, p9, p10) AS (VALUES
  {_RBO_VALUES_SQL}
),
xd AS (
  SELECT p.d, p.p9, p.p10,
         CAST(count(j.m) AS HUGEINT) AS x_d
  FROM pows p LEFT JOIN joint j ON j.m <= p.d
  GROUP BY p.d, p.p9, p.p10
)
SELECT CAST({_RBO_K} AS BIGINT) AS depth,
       CAST(max(CASE WHEN d = {_RBO_K} THEN x_d END) AS BIGINT)
         AS overlap_at_k,
       CAST(sum((1000000 * p9 * x_d) // (p10 * d)) AS BIGINT)
         AS rbo_min_micro
FROM xd
"""


@query("rbo1_rank_biased_overlap", oracle=_RBO_SQL)
def rbo1_rank_biased_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-biased overlap between the BM25 and cosine retrieval arms
    (Webber, Moffat & Zobel 2010): RBO_min at depth {k} with p = 0.9 —
    the TOP-WEIGHTED agreement measure that fixes what tau1's Kendall
    tau cannot express: two rankers that agree on the top 3 but
    scramble the tail should score high for a top-k consumer, and
    RBO's geometric depth weights (1-p)*p^(d-1) encode exactly that.
    The truncated prefix sum is Webber's RBO_min (assume zero overlap
    beyond depth k) — a certified LOWER bound, the honest direction
    for a monitor alarming on ranker divergence.

    Exactness: p^(d-1) never goes through libm pow — 0.9^(d-1) is the
    exact rational 9^(d-1)/10^(d-1), carried as PRECOMPUTED integer
    literal columns (both engines read the identical {k}-row VALUES
    table); overlap-at-depth X_d is a BIGINT count; each depth's term
    (1e6 * 9^(d-1) * X_d) div (10^d * d) is one non-negative integral
    division (the (1-p) factor folds into 10^d), and RBO_min is their
    exact sum — bounded float-free by construction.

    Scale shape: both arms are the rr1/tau1 TakeOrderedAndProject
    bounded pools (corpus reduces to <= {pool} rows per arm before
    any window); the join is pool x pool on doc_id, the depth table
    is a {k}-row literal broadcast, and the output is one row.
    Nothing after the arms grows with the corpus."""
    lex, sem = _ranked_arms(spark, sf_dir)
    joint = (
        lex.join(sem, "doc_id")
        .select(
            F.greatest(F.col("lex_rank"), F.col("sem_rank"))
            .cast("long")
            .alias("m")
        )
        .filter(F.col("m") <= _RBO_K)
    )
    pows = spark.createDataFrame(
        [(d, str(p9), str(p10)) for d, p9, p10 in _RBO_POWS],
        "d INT, p9 STRING, p10 STRING",
    ).select(
        F.col("d").cast("long").alias("d"),
        F.col("p9").cast("decimal(38,0)").alias("p9"),
        F.col("p10").cast("decimal(38,0)").alias("p10"),
    )
    xd = (
        F.broadcast(pows)
        .join(joint, joint["m"] <= pows["d"], "left")
        .groupBy("d", "p9", "p10")
        .agg(F.count("m").cast("decimal(38,0)").alias("x_d"))
    )
    return xd.agg(
        F.lit(_RBO_K).cast("long").alias("depth"),
        F.max(F.when(F.col("d") == _RBO_K, F.col("x_d")))
        .cast("long")
        .alias("overlap_at_k"),
        F.sum(
            F.expr("(1000000 * p9 * x_d) div (p10 * d)")
        )
        .cast("long")
        .alias("rbo_min_micro"),
    )


rbo1_rank_biased_overlap.__doc__ = rbo1_rank_biased_overlap.__doc__.format(
    k=_RBO_K, pool=_RRF_POOL
)
