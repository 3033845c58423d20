"""Round-3 training-data curation + analytics operators: document
quality scoring (Gopher-style rules), repetition filtering, weighted
priority sampling, temperature-based source mixing, collocation
mining, edit-distance similarity join, bloom-filter semi-join, batch
KNN join, triangle counting, cluster centroids, and mergeable-sketch
distinct counts.

No reference counterpart (the reference is a 479-line pandas ETL —
``dags/etl/*.py``); these are the mandated extended surface for a
100 TB training-data deployment. Design rules carried over from the
earlier families:

- Randomness is the md5-derived cross-engine hash (``ce_hash64``), so
  every sampling decision replays bit-exactly in DuckDB; production
  swaps in ``xxhash64`` with no other change.
- Sums of doubles route through DECIMAL; per-row double arithmetic
  (mul/div/sqrt — IEEE-identical across engines) stays raw; values
  born from engine-specific libm (ln/pow) are avoided entirely —
  monotone rational equivalents (lift instead of PMI, priority w/u
  instead of u^(1/w), sqrt instead of pow(x, 0.5)) keep the math
  cross-engine exact.
- Every plan is shuffle-minimal and documented for the 100 TB case.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.materialize import pin
from ..functions.dedup import CE_HASH64_SQL, ce_hash64, tokens
from .registry import load, load_spread, query

# --------------------------------------------------------------------------
# document quality scoring (Gopher-style rule filters)
# --------------------------------------------------------------------------

_STOPWORD_RE = r"\b(the|a|of|to|and)\b"


@query(
    "qc1_quality_score",
    oracle=f"""
    WITH t AS (
      SELECT doc_id,
             CAST(len(regexp_extract_all(text, '\\S+')) AS INTEGER) AS n_tokens,
             CAST(length(regexp_replace(text, '\\s', '', 'g')) AS INTEGER)
               AS n_word_chars,
             CAST(length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g'))
               AS INTEGER) AS n_symbol_chars,
             CAST(length(text) AS INTEGER) AS n_chars,
             CAST(len(regexp_extract_all(lower(text), '{_STOPWORD_RE}'))
               AS INTEGER) AS stopword_hits
      FROM documents
    )
    SELECT doc_id, n_tokens,
           CAST(n_word_chars AS DOUBLE) / NULLIF(n_tokens, 0) AS mean_word_len,
           CAST(n_symbol_chars AS DOUBLE) / NULLIF(n_chars, 0) AS symbol_ratio,
           stopword_hits,
           (n_tokens BETWEEN 50 AND 100000
            AND CAST(n_word_chars AS DOUBLE) / NULLIF(n_tokens, 0)
                BETWEEN 3.0 AND 10.0
            AND CAST(n_symbol_chars AS DOUBLE) / NULLIF(n_chars, 0) < 0.1
            AND stopword_hits >= 2) AS quality_pass
    FROM t
    """,
)
def qc1_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style document quality rules (Rae et al. 2021, §A1.1):
    token-count bounds, mean-word-length band, symbol ratio, stopword
    presence — the rule filter every pretraining corpus passes through
    before dedup. Mean word length is computed as non-whitespace chars
    over token count (one regexp_replace + length, whole-stage codegen)
    instead of a per-token lambda fold (interpreted, ~10× slower).
    Pure narrow projection: zero shuffles at any scale; the filter
    columns are plain expressions, so Catalyst pushes a downstream
    ``WHERE quality_pass`` into the scan."""
    df = load(spark, sf_dir, "documents")
    n_tokens = F.size(F.regexp_extract_all(F.col("text"), F.lit(r"\S+"), 0))
    n_word_chars = F.length(F.regexp_replace(F.col("text"), r"\s", ""))
    n_symbol_chars = F.length(
        F.regexp_replace(F.col("text"), r"[A-Za-z0-9\s]", "")
    )
    n_chars = F.length("text")
    stopword_hits = F.size(
        F.regexp_extract_all(F.lower(F.col("text")), F.lit(_STOPWORD_RE), 0)
    )
    mean_word_len = n_word_chars.cast("double") / F.nullif(n_tokens, F.lit(0))
    symbol_ratio = n_symbol_chars.cast("double") / F.nullif(n_chars, F.lit(0))
    return df.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        mean_word_len.alias("mean_word_len"),
        symbol_ratio.alias("symbol_ratio"),
        stopword_hits.alias("stopword_hits"),
        (
            n_tokens.between(50, 100000)
            & mean_word_len.between(3.0, 10.0)
            & (symbol_ratio < 0.1)
            & (stopword_hits >= 2)
        ).alias("quality_pass"),
    )


@query(
    "qc2_repetition_filter",
    oracle="""
    WITH toks AS (
      SELECT doc_id, regexp_extract_all(text, '\\S+') AS l FROM documents
    ),
    bg AS (
      SELECT doc_id, l[i] || ' ' || l[i + 1] AS bigram
      FROM toks, UNNEST(generate_series(1, len(l) - 1)) AS t(i)
      WHERE len(l) >= 2
    ),
    c AS (
      SELECT doc_id, bigram, CAST(count(*) AS BIGINT) AS cnt
      FROM bg GROUP BY 1, 2
    ),
    r AS (
      SELECT doc_id, bigram, cnt,
             CAST(SUM(cnt) OVER (PARTITION BY doc_id) AS BIGINT) AS n_bigrams,
             row_number() OVER (
               PARTITION BY doc_id ORDER BY cnt DESC, bigram) AS rn
      FROM c
    )
    SELECT doc_id, n_bigrams, bigram AS top_bigram, cnt AS top_bigram_cnt,
           CAST(cnt AS DOUBLE) / n_bigrams AS top_bigram_frac,
           CAST(cnt AS DOUBLE) / n_bigrams <= 0.2 AS repetition_pass
    FROM r WHERE rn = 1
    """,
)
def qc2_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition filter (Gopher §A1.1 'repetitious text'): the
    fraction of a document's word bigrams occupied by its single most
    frequent bigram; templated/spammy docs score high. Docs with <2
    tokens have no bigrams and are excluded (nothing to score).

    Shape: per-doc bigram build (slice+array_join — no interpreted
    per-element lambdas), explode, ONE two-key groupBy (map-side
    combined), then a per-doc window for the arg-max with a
    lexicographic bigram tiebreak. At 100 TB the explode is narrow
    (no shuffle) and the groupBy/window both partition by doc_id, so
    the whole job is a single exchange."""
    docs = load_spread(spark, sf_dir, "documents").select("doc_id", "text")
    toks = tokens(F.col("text"))
    n = F.size(toks)
    # zip_with over two shifted slices, not transform(sequence, ...) —
    # the latter re-evaluates the token expression per element (~5×)
    bigrams = F.when(
        n >= 2,
        F.zip_with(
            F.slice(toks, 1, n - 1),
            F.slice(toks, 2, n - 1),
            lambda a, b: F.concat(a, F.lit(" "), b),
        ),
    ).otherwise(F.array().cast("array<string>"))
    counts = (
        docs.select("doc_id", F.explode(bigrams).alias("bigram"))
        .groupBy("doc_id", "bigram")
        .agg(F.count("*").alias("cnt"))
    )
    w_doc = Window.partitionBy("doc_id")
    w_rank = w_doc.orderBy(F.col("cnt").desc(), F.col("bigram"))
    top_frac = F.col("cnt").cast("double") / F.col("n_bigrams")
    return (
        counts.withColumn("n_bigrams", F.sum("cnt").over(w_doc))
        .withColumn("rn", F.row_number().over(w_rank))
        .filter(F.col("rn") == 1)
        .select(
            "doc_id",
            "n_bigrams",
            F.col("bigram").alias("top_bigram"),
            F.col("cnt").alias("top_bigram_cnt"),
            top_frac.alias("top_bigram_frac"),
            (top_frac <= 0.2).alias("repetition_pass"),
        )
    )


# --------------------------------------------------------------------------
# weighted sampling + source mixing
# --------------------------------------------------------------------------

_TWO_53 = 1 << 53  # largest power of two with every long below it exact in double
_WS_K = 32

_WS_CE = CE_HASH64_SQL.format(h="md5('ws|'||CAST(doc_id AS VARCHAR))")
_WS_U = (
    f"CAST(((({_WS_CE}) % {_TWO_53}) + {_TWO_53}) % {_TWO_53} + 1 AS DOUBLE)"
    f" / {_TWO_53}"
)


def _uniform(prefix: str, id_col: str = "doc_id"):
    """Deterministic uniform in (0, 1]: hash mod 2^53 + 1, over 2^53.
    Every intermediate long is ≤ 2^53, hence exactly representable in
    a double; the division is a single IEEE op — bit-identical in any
    engine given the same hash."""
    h = F.pmod(
        ce_hash64(F.concat(F.lit(prefix), F.col(id_col).cast("string"))),
        F.lit(_TWO_53),
    )
    return (h + 1).cast("double") / F.lit(_TWO_53).cast("double")


@query(
    "ws1_priority_sample",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, source, n_chars,
             CAST(n_chars AS DOUBLE) / ({_WS_U}) AS priority
      FROM documents
    ),
    r AS (
      SELECT *, row_number() OVER (
        PARTITION BY source ORDER BY priority DESC, doc_id) AS rn
      FROM t
    )
    SELECT doc_id, source, n_chars, priority FROM r WHERE rn <= {_WS_K}
    """,
)
def ws1_priority_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sample of exactly k docs per source via PRIORITY
    SAMPLING (Duffield, Lund & Thorup 2007): priority = weight / u
    with u a deterministic uniform in (0,1]; the top-k by priority is
    a weight-biased without-replacement sample with unbiased
    subset-sum estimators. Chosen over Efraimidis–Sirivianos
    u^(1/w) because w/u needs only one IEEE division — exact in any
    engine — while pow/ln are libm-specific and would break the
    bit-exact oracle.

    Scale: per-partition top-k then per-source merge (the window is
    partitioned by source, and a 100 TB run would pre-aggregate with
    a per-partition ORDER BY priority LIMIT k before the exchange —
    same result, bounded shuffle)."""
    df = load(spark, sf_dir, "documents")
    priority = F.col("n_chars").cast("double") / _uniform("ws|")
    w = Window.partitionBy("source").orderBy(
        F.col("priority").desc(), F.col("doc_id")
    )
    return (
        df.select("doc_id", "source", "n_chars", priority.alias("priority"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _WS_K)
        .drop("rn")
    )


_MIX_CE = CE_HASH64_SQL.format(h="md5('mix|'||CAST(doc_id AS VARCHAR))")
_MIX_U = (
    f"CAST(((({_MIX_CE}) % {_TWO_53}) + {_TWO_53}) % {_TWO_53} + 1 AS DOUBLE)"
    f" / {_TWO_53}"
)
_MIX_FRACTION = 0.6  # global keep target: 60% of the corpus


@query(
    "mix1_temperature_mix",
    oracle=f"""
    WITH c AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(round(sqrt(count(*)), 6) AS DECIMAL(18,6)) AS w
      FROM documents GROUP BY source
    ),
    tot AS (
      SELECT CAST(SUM(w) AS DOUBLE) AS w_total,
             CAST(SUM(n_docs) AS DOUBLE) AS n_total
      FROM c
    ),
    rates AS (
      SELECT c.source, c.n_docs,
             least(1.0,
                   (({_MIX_FRACTION} * tot.n_total)
                    * (CAST(c.w AS DOUBLE) / tot.w_total))
                   / CAST(c.n_docs AS DOUBLE)) AS keep_rate
      FROM c, tot
    )
    SELECT d.doc_id, d.source, r.keep_rate
    FROM documents d JOIN rates r ON d.source = r.source
    WHERE ({_MIX_U}) < r.keep_rate
    """,
)
def mix1_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based source mixing (the multinomial-smoothing rule
    of multilingual/multi-source pretraining, e.g. mC4's alpha
    sampling): per-source keep rates ∝ count^alpha, renormalized to a
    global keep target, applied as a deterministic per-doc Bernoulli.
    alpha is fixed at 0.5 so the power is ``sqrt`` — IEEE-correctly
    rounded in every engine, unlike ``pow`` — and the per-source
    weights are rounded to DECIMAL(18,6) before the (exact, decimal)
    total so the normalization is order-independent.

    Scale: the rate table is one tiny aggregate (n_sources rows)
    broadcast back onto the corpus; the keep decision is a pure
    per-row filter — one map-side-combined groupBy is the only
    shuffle, and adding docs never flips existing decisions (the
    incremental-pipeline property), though rates themselves drift as
    counts grow — pin them per training run in production."""
    docs = load(spark, sf_dir, "documents")
    counts = docs.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.round(F.sqrt(F.count("*")), 6).cast("decimal(18,6)").alias("w"),
    )
    tot = counts.agg(
        F.sum("w").cast("double").alias("w_total"),
        F.sum("n_docs").cast("double").alias("n_total"),
    )
    rates = counts.crossJoin(F.broadcast(tot)).select(
        "source",
        F.least(
            F.lit(1.0),
            (
                (F.lit(_MIX_FRACTION) * F.col("n_total"))
                * (F.col("w").cast("double") / F.col("w_total"))
            )
            / F.col("n_docs").cast("double"),
        ).alias("keep_rate"),
    )
    return (
        docs.join(F.broadcast(rates), "source")
        .filter(_uniform("mix|") < F.col("keep_rate"))
        .select("doc_id", "source", "keep_rate")
    )


# --------------------------------------------------------------------------
# collocation mining + string-similarity join + graph triangles
# --------------------------------------------------------------------------

_PMI_MIN_SUPPORT = 5
_PMI_TOP = 50


@query(
    "pmi1_collocations",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, regexp_extract_all(text, '\\S+') AS l FROM documents
    ),
    uc AS (
      SELECT w, CAST(count(*) AS BIGINT) AS c
      FROM (SELECT unnest(l) AS w FROM toks) GROUP BY w
    ),
    nu AS (SELECT CAST(SUM(c) AS DOUBLE) AS n FROM uc),
    bc AS (
      SELECT w1, w2, CAST(count(*) AS BIGINT) AS c_xy
      FROM (SELECT l[i] AS w1, l[i + 1] AS w2
            FROM toks, UNNEST(generate_series(1, len(l) - 1)) AS t(i)
            WHERE len(l) >= 2)
      GROUP BY w1, w2
    ),
    nb AS (SELECT CAST(SUM(c_xy) AS DOUBLE) AS n FROM bc)
    SELECT bc.w1, bc.w2, bc.c_xy,
           (CAST(bc.c_xy AS DOUBLE) / nb.n)
             / ((CAST(x.c AS DOUBLE) / nu.n) * (CAST(y.c AS DOUBLE) / nu.n))
             AS lift
    FROM bc
    JOIN uc x ON bc.w1 = x.w
    JOIN uc y ON bc.w2 = y.w
    CROSS JOIN nu CROSS JOIN nb
    WHERE bc.c_xy >= {_PMI_MIN_SUPPORT}
    ORDER BY lift DESC, bc.w1, bc.w2
    LIMIT {_PMI_TOP}
    """,
)
def pmi1_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining: corpus-wide bigram association strength.
    Surfaces LIFT = p(xy)/(p(x)p(y)) rather than PMI = ln(lift): the
    ranking is identical (ln is monotone) but lift needs only IEEE
    mul/div — bit-exact across engines — where ln is libm-specific.

    Shape: one narrow bigram explode, two word-keyed groupBys
    (map-side combined), two equi-joins of bigram counts against the
    unigram table (vocabulary-sized — orders of magnitude smaller
    than the corpus, broadcast by AQE at any realistic vocab), two
    1-row totals cross-joined, TakeOrdered top-50. No quadratic step
    anywhere; at 100 TB the only real shuffles are the two counting
    groupBys."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    toks = tokens(F.col("text"))
    n = F.size(toks)
    uni = (
        docs.select(F.explode(toks).alias("w"))
        .groupBy("w")
        .agg(F.count("*").cast("long").alias("c"))
    )
    # zip_with over shifted slices (not transform(sequence, get(...)) —
    # per-element get re-evaluates the token expression, ~5× slower)
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
    bc = bigrams.groupBy("w1", "w2").agg(F.count("*").cast("long").alias("c_xy"))
    nu = uni.agg(F.sum("c").cast("double").alias("n_uni"))
    nb = bc.agg(F.sum("c_xy").cast("double").alias("n_bi"))
    lift = (F.col("c_xy").cast("double") / F.col("n_bi")) / (
        (F.col("cx").cast("double") / F.col("n_uni"))
        * (F.col("cy").cast("double") / F.col("n_uni"))
    )
    ucx = uni.select(F.col("w").alias("wx"), F.col("c").alias("cx"))
    ucy = uni.select(F.col("w").alias("wy"), F.col("c").alias("cy"))
    return (
        bc.filter(F.col("c_xy") >= _PMI_MIN_SUPPORT)
        .join(ucx, F.col("w1") == F.col("wx"))
        .drop("wx")
        .join(ucy, F.col("w2") == F.col("wy"))
        .drop("wy")
        .crossJoin(F.broadcast(nu))
        .crossJoin(F.broadcast(nb))
        .select("w1", "w2", "c_xy", lift.alias("lift"))
        .orderBy(F.col("lift").desc(), "w1", "w2")
        .limit(_PMI_TOP)
    )


@query(
    "ed1_editdist_join",
    oracle="""
    WITH vocab AS (
      SELECT DISTINCT w, CAST(length(w) AS INTEGER) AS ln
      FROM (SELECT unnest(regexp_extract_all(text, '\\S+')) AS w
            FROM documents)
      WHERE regexp_matches(w, '^[ -~]+$')
    ),
    same_len AS (
      SELECT a.w AS w1, b.w AS w2
      FROM vocab a JOIN vocab b ON a.ln = b.ln AND a.w < b.w
    ),
    longer AS (
      SELECT a.w AS w1, b.w AS w2
      FROM vocab a JOIN vocab b ON b.ln - a.ln BETWEEN 1 AND 2
    ),
    cand AS (SELECT * FROM same_len UNION ALL SELECT * FROM longer)
    SELECT w1, w2, CAST(levenshtein(w1, w2) AS INTEGER) AS dist
    FROM cand
    WHERE levenshtein(w1, w2) <= 2
    """,
)
def ed1_editdist_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String-similarity self-join: all vocabulary pairs within edit
    distance 2 (the typo/variant-merging step of vocabulary cleanup).
    Length blocking is a COMPLETE filter for distance ≤ 2 (each edit
    changes length by at most 1), so the join never goes all-pairs:
    same-length pairs join on length (ordered lexically to emit each
    pair once), length-diff 1–2 pairs join shorter→longer (canonical
    order from the length gap — no lexical constraint needed).
    Levenshtein runs only on blocked candidates.

    At 100 TB vocab scale the block key gains a prefix/band component
    (distance ≤ 2 ⇒ some ⌈L/3⌉-char third of one word appears intact
    in the other), keeping blocks bounded; length-only blocking is
    the exact baseline."""
    vocab = (
        load(spark, sf_dir, "documents")
        .select(F.explode(tokens(F.col("text"))).alias("w"))
        .distinct()
        # printable-ASCII vocabulary only: edit distance on multi-byte
        # text is not one metric — Spark counts code-point edits where
        # byte-based implementations (DuckDB among them) count byte
        # edits, so the cross-engine contract is pinned to the range
        # where the two definitions coincide
        .filter(F.col("w").rlike("^[ -~]+$"))
        .select("w", F.length("w").cast("int").alias("ln"))
    )
    a = vocab.alias("a")
    b = vocab.alias("b")
    same_len = a.join(
        b, (F.col("a.ln") == F.col("b.ln")) & (F.col("a.w") < F.col("b.w"))
    ).select(F.col("a.w").alias("w1"), F.col("b.w").alias("w2"))
    # equi-join, not a range predicate: a `b.ln - a.ln BETWEEN 1 AND 2`
    # condition compiles to a nested-loop join (all-pairs compare);
    # exploding the longer word into its two candidate block keys keeps
    # the join hash-partitioned
    b_keys = vocab.select(
        F.col("w").alias("w2"),
        F.explode(
            F.array(F.col("ln") - 1, F.col("ln") - 2)
        ).alias("block_ln"),
    )
    longer = a.join(b_keys, F.col("a.ln") == F.col("block_ln")).select(
        F.col("a.w").alias("w1"), "w2"
    )
    cand = same_len.unionAll(longer)
    dist = F.levenshtein("w1", "w2")
    return cand.filter(dist <= 2).select(
        "w1", "w2", dist.cast("int").alias("dist")
    )


_TRI_MIN_SUPPORT = 20


@query(
    "tri1_triangle_count",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, list_distinct(regexp_extract_all(text, '\\S+')) AS l
      FROM documents
    ),
    dw AS (SELECT doc_id, unnest(l) AS w FROM toks),
    edges AS (
      SELECT a.w AS u, b.w AS v
      FROM dw a JOIN dw b ON a.doc_id = b.doc_id AND a.w < b.w
      GROUP BY a.w, b.w
      HAVING count(*) >= {_TRI_MIN_SUPPORT}
    ),
    tri AS (
      SELECT e1.u AS a, e1.v AS b, e2.v AS c
      FROM edges e1
      JOIN edges e2 ON e1.v = e2.u
      JOIN edges e3 ON e3.u = e1.u AND e3.v = e2.v
    )
    SELECT node, CAST(count(*) AS BIGINT) AS n_triangles
    FROM (SELECT a AS node FROM tri
          UNION ALL SELECT b FROM tri
          UNION ALL SELECT c FROM tri)
    GROUP BY node
    ORDER BY n_triangles DESC, node
    """,
)
def tri1_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle counts on the word co-occurrence graph
    (words co-appearing in ≥ {min_sup} documents). The classic
    distributed formulation: orient every edge low→high, join
    wedges e(a,b)⋈e(b,c) (a<b<c by construction, so each triangle is
    built exactly once), close them against the edge set, then count
    each triangle toward all three corners with a 3-way unpivot.

    Scale notes: edge orientation bounds the wedge join by the
    smaller-degree endpoint (the standard skew guard — high-degree
    nodes are mostly wedge *middles*, never wedge *sources*, halving
    worst-case fan-out); the co-occurrence build is per-doc distinct
    pairs, vocabulary-bounded per doc, with the support filter pushed
    into the first aggregation. The edge table feeds three joins, so
    it is persisted rather than recomputed."""
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
        .filter(F.col("sup") >= _TRI_MIN_SUPPORT)
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
            (F.col("e3.u") == F.col("e1.u")) & (F.col("e3.v") == F.col("e2.v")),
            "left_semi",
        )
        .select(
            F.col("e1.u").alias("a"),
            F.col("e1.v").alias("b"),
            F.col("e2.v").alias("c"),
        )
    )
    corners = (
        tri.select(F.col("a").alias("node"))
        .unionAll(tri.select("b"))
        .unionAll(tri.select("c"))
    )
    return (
        corners.groupBy("node")
        .agg(F.count("*").cast("long").alias("n_triangles"))
        .orderBy(F.col("n_triangles").desc(), "node")
    )


# --------------------------------------------------------------------------
# bloom-filter runtime semi-join + batch KNN join + cluster centroids
# --------------------------------------------------------------------------

_BF_BITS = 8192  # 2^13 bits = 128 longs; k=3 hashes
_BF_SEEDS = (0, 1, 2)


@query(
    "bf1_bloom_semi_join",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    WHERE EXISTS (SELECT 1 FROM customer
                  WHERE c_custkey = o_custkey AND c_acctbal < 0)
    """,
)
def bf1_bloom_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runtime-filter semi-join: orders of negative-balance customers,
    pre-filtered by a hand-built Bloom filter BEFORE the exact join.
    The build side aggregates k=3 hash positions per key into a
    128-long bitmap (one groupBy + a 1-row map collect — mergeable
    partial aggregation, the same shape Spark's own
    ``spark.sql.optimizer.runtime.bloomFilter`` injects); the bitmap
    broadcasts to the fact side as a map literal and prunes
    non-matching rows with pure bit arithmetic; a final LEFT SEMI join
    removes Bloom false positives, so the result is EXACTLY the semi
    join and the oracle is plain EXISTS.

    At 100 TB this is the difference between shuffling every fact row
    into the join and shuffling only the ~selectivity fraction that
    can match; the bloom stage itself never shuffles the fact table
    (narrow filter against a broadcast bitmap)."""
    cust = (
        load(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") < 0)
        .select("c_custkey")
    )
    # shiftleft needs a literal shift in the Column API — the bit ops
    # go through expr() over a materialized `pos` column instead
    word = F.expr("CAST(pos DIV 64 AS INT)")
    mask = F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 64 AS INT))")
    positions = cust.select(
        F.explode(
            F.array(
                *[
                    F.pmod(F.xxhash64("c_custkey", F.lit(s)), F.lit(_BF_BITS))
                    for s in _BF_SEEDS
                ]
            )
        ).alias("pos")
    )
    bitmap = (
        positions.groupBy(word.alias("word"))
        .agg(F.bit_or(mask).alias("bits"))
        .agg(
            F.map_from_entries(
                F.collect_list(F.struct("word", "bits"))
            ).alias("bloom")
        )
    )
    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    probe = orders.crossJoin(F.broadcast(bitmap))
    hit = None
    for s in _BF_SEEDS:
        probe = probe.withColumn(
            "pos", F.pmod(F.xxhash64("o_custkey", F.lit(s)), F.lit(_BF_BITS))
        )
        test = (
            F.coalesce(F.element_at(F.col("bloom"), word), F.lit(0).cast("long"))
            .bitwiseAND(mask)
            != 0
        )
        probe = probe.withColumn(f"hit_{s}", test).drop("pos")
        hit = F.col(f"hit_{s}") if hit is None else (hit & F.col(f"hit_{s}"))
    candidates = probe.filter(hit).select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    return candidates.join(
        F.broadcast(cust),
        candidates["o_custkey"] == cust["c_custkey"],
        "left_semi",
    )


_KNN_N_QUERIES = 20
_KNN_K = 5
# products scaled by 1e14 and rounded to BIGINT: integer sums are exact
# and order-independent like the decimal convention, but aggregate in
# whole-stage codegen instead of the BigDecimal path (3× faster on the
# 6.4M-row pair stream); 64 products ≤ 64·1e14 stays far under 2^63,
# and int64→double casts are correctly rounded in every engine
_LONG_PROD = "CAST(round(CAST(x AS DOUBLE) * CAST(y AS DOUBLE) * 1e14) AS BIGINT)"
_LONG_XX = "CAST(round(CAST(x AS DOUBLE) * CAST(x AS DOUBLE) * 1e14) AS BIGINT)"
_LONG_YY = "CAST(round(CAST(y AS DOUBLE) * CAST(y AS DOUBLE) * 1e14) AS BIGINT)"


@query(
    "knn1_knn_join",
    oracle=f"""
    WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings
               WHERE vec_id < {_KNN_N_QUERIES}),
    c AS (SELECT vec_id, embedding AS cv FROM embeddings
          WHERE vec_id >= {_KNN_N_QUERIES}),
    pairs AS (
      SELECT q.qid, c.vec_id, unnest(c.cv) AS x, unnest(q.qv) AS y
      FROM q, c
    ),
    sims AS (
      SELECT qid, vec_id,
             round(CAST(SUM({_LONG_PROD}) AS DOUBLE)
               / (sqrt(CAST(SUM({_LONG_XX}) AS DOUBLE))
                  * sqrt(CAST(SUM({_LONG_YY}) AS DOUBLE))), 6) AS sim
      FROM pairs GROUP BY qid, vec_id
      HAVING SUM({_LONG_XX}) > 0 AND SUM({_LONG_YY}) > 0
    ),
    r AS (
      SELECT qid, vec_id, sim,
             CAST(row_number() OVER (
               PARTITION BY qid ORDER BY sim DESC, vec_id) AS INTEGER) AS rank
      FROM sims
    )
    SELECT qid, vec_id, sim, rank FROM r WHERE rank <= {_KNN_K}
    """,
)
def knn1_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch KNN JOIN: exact top-k cosine neighbors for a BATCH of
    query vectors (the retrieval/labeling shape — N queries at once,
    not the single-vector ``sim_cosine_topk``). The query batch is
    bounded (a request batch, not a table), so it broadcasts; the dot
    products run as posexplode + one wide codegen groupBy — the d4
    lesson: 64 interpreted ``F.aggregate`` lambda folds per pair
    measured ~25× slower than explode + JVM hash aggregate. Products
    are scaled by 1e14 and rounded to BIGINT, so the sums are exact
    order-independent integer arithmetic that stays in whole-stage
    codegen (the DECIMAL(28,14) convention is semantically equivalent
    but aggregates through BigDecimal — measured 3× slower on the
    pair stream); norms are computed once per side and joined back,
    which integer addition makes EXACTLY equal to computing them
    inside the pair group.

    Scale: corpus-side explode is narrow; the pair groupBy shuffles
    pairs×dim rows — the IVF-blocked variant (``sim_ivfm``'s index)
    bounds that to probed clusters; this is the exact baseline."""
    emb = load_spread(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < _KNN_N_QUERIES)
    corpus = emb.filter(F.col("vec_id") >= _KNN_N_QUERIES)
    long_prod = lambda a, b: F.round(
        a.cast("double") * b.cast("double") * F.lit(1e14)
    ).cast("long")
    cexp = corpus.select(
        "vec_id", F.posexplode("embedding").alias("pos", "x")
    )
    qexp = queries.select(
        F.col("vec_id").alias("qid"), F.posexplode("embedding").alias("pos", "y")
    )
    # zero-norm vectors (either side) are unrankable and would raise
    # ANSI DIVIDE_BY_ZERO — excluded here, HAVING-excluded identically
    # in the oracle (same exact integer norm sums)
    qnorm = (
        qexp.groupBy("qid")
        .agg(
            F.sqrt(
                F.sum(long_prod(F.col("y"), F.col("y"))).cast("double")
            ).alias("qn")
        )
        .filter(F.col("qn") > 0)
    )
    cnorm = (
        cexp.groupBy("vec_id")
        .agg(
            F.sqrt(
                F.sum(long_prod(F.col("x"), F.col("x"))).cast("double")
            ).alias("cn")
        )
        .filter(F.col("cn") > 0)
    )
    dots = (
        cexp.join(F.broadcast(qexp), "pos")
        .groupBy("qid", "vec_id")
        .agg(F.sum(long_prod(F.col("x"), F.col("y"))).alias("dot"))
    )
    sim = F.round(
        F.col("dot").cast("double") / (F.col("cn") * F.col("qn")), 6
    )
    w = Window.partitionBy("qid").orderBy(F.col("sim").desc(), F.col("vec_id"))
    return (
        dots.join(F.broadcast(qnorm), "qid")
        .join(cnorm, "vec_id")
        .select("qid", "vec_id", sim.alias("sim"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _KNN_K)
    )


@query(
    "emb2_cluster_centroids",
    oracle="""
    WITH comp AS (
      SELECT label, CAST(i - 1 AS INTEGER) AS pos, embedding[i] AS x
      FROM embeddings,
           UNNEST(generate_series(1, len(embedding))) AS t(i)
    )
    SELECT label, pos,
           round(CAST(SUM(CAST(CAST(x AS DOUBLE) AS DECIMAL(38,30))) AS DOUBLE)
             / CAST(count(*) AS DOUBLE), 9) AS centroid,
           CAST(count(*) AS BIGINT) AS n_members
    FROM comp
    GROUP BY label, pos
    """,
)
def emb2_cluster_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cluster embedding centroids (element-wise mean per label) —
    the reduce step of k-means / topic-cluster summarization. One
    narrow posexplode then ONE two-key groupBy with map-side combine:
    at 100 TB each executor pre-sums its local vectors per (label,
    pos), so the shuffle carries n_labels × dim partial sums per
    partition, not the vectors. Components are rounded to
    DECIMAL(38,30) before summing (exact, order-independent
    addition). The wide scale matters: raw FLOAT components are dyadic
    rationals with ~26-digit expansions, so a 14-digit scale (the
    product convention elsewhere) can land on an exact .5 rounding tie
    where engines disagree — observed once in 320k components at
    sf0.001; 30 digits puts ties past any float's expansion. 8 integer
    digits still hold ~10^8 unit-scale components per group. The
    surfaced mean is rounded to 9 digits — a scale-30 decimal→double
    cast is not correctly rounded in every engine (ulp-level noise),
    and float inputs only carry ~7 significant digits anyway."""
    comp = load(spark, sf_dir, "embeddings").select(
        "label", F.posexplode("embedding").alias("pos", "x")
    )
    return comp.groupBy("label", "pos").agg(
        F.round(
            F.sum(F.col("x").cast("double").cast("decimal(38,30)")).cast(
                "double"
            )
            / F.count("*").cast("double"),
            9,
        ).alias("centroid"),
        F.count("*").cast("long").alias("n_members"),
    )


_KM1_K = 8  # k-means k; init centroids are the vectors with vec_id < k
_KM1_ITERS = 3  # unrolled Lloyd's rounds


def _km1_ctes() -> str:
    """WITH-body for the 3 unrolled Lloyd's iterations, shared by the
    km1 oracle (assignment tail) and the sil1 oracle (silhouette
    tail). Every quantity is an exact BIGINT or one correctly-rounded
    IEEE step, so the replay is bit-identical (the gr1 precedent)."""
    ctes = [
        """qx AS (
      SELECT vec_id, CAST(i - 1 AS INTEGER) AS pos,
             CAST(round(CAST(embedding[i] AS DOUBLE) * 1e7) AS BIGINT) AS q
      FROM embeddings, UNNEST(generate_series(1, len(embedding))) AS t(i)
    )""",
        f"""cent0 AS (
      SELECT vec_id AS cid, pos, q AS qc FROM qx WHERE vec_id < {_KM1_K}
    )""",
    ]
    for i in range(1, _KM1_ITERS + 1):
        ctes.append(
            f"""d{i} AS (
      SELECT e.vec_id, c.cid, SUM((e.q - c.qc) * (e.q - c.qc)) AS d2
      FROM qx e JOIN cent{i - 1} c ON e.pos = c.pos
      GROUP BY e.vec_id, c.cid
    )"""
        )
        ctes.append(
            f"""asg{i} AS (
      SELECT vec_id, cid, d2 FROM (
        SELECT vec_id, cid, d2,
               row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rk
        FROM d{i}) AS t WHERE rk = 1
    )"""
        )
        if i < _KM1_ITERS:
            ctes.append(
                f"""cent{i} AS (
      SELECT a.cid, e.pos,
             CAST(round(CAST(SUM(e.q) AS DOUBLE) / CAST(count(*) AS DOUBLE))
                  AS BIGINT) AS qc
      FROM qx e JOIN asg{i} a USING (vec_id)
      GROUP BY a.cid, e.pos
    )"""
            )
    return "WITH " + ",\n".join(ctes)


def _km1_oracle() -> str:
    return (
        _km1_ctes()
        + f"""
    SELECT vec_id, CAST(cid AS BIGINT) AS cluster_id,
           CAST(d2 AS BIGINT) AS dist2_scaled
    FROM asg{_KM1_ITERS}"""
    )


@query("km1_lloyd_kmeans", oracle=_km1_oracle())
def km1_lloyd_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """True Lloyd's k-means, {it} unrolled iterations over k={k}
    clusters — the trained-centroid upgrade to the hash-assigned IVF
    buckets (sim_ivf/sdd1), i.e. the topic/domain-bucketing pass a
    curation pipeline runs before mix1-style reweighting. Init
    centroids are the first k vectors; each round assigns every vector
    to its nearest centroid by squared L2 and recomputes centroids as
    per-dimension means; empty clusters drop (standard Lloyd's).

    Bit-exact across engines by construction: inputs quantize once to
    the 1e-7 grid (exact BIGINT), distances are exact integer sums
    (|q|≈3e7 → diff² ≤ 3.6e15, ×64 dims ≪ 2^63), the argmin is an
    exact (d2, cid) integer compare, and each new centroid re-quantizes
    to the grid through one exact long sum and two correctly-rounded
    IEEE steps (cast + divide) that every engine performs identically.
    No decimal state, no float accumulation, no order dependence.

    Scale shape: the quantized explode persists once and every
    iteration reads the cache. Per round: ONE broadcast of the k×dim
    centroid table onto the exploded corpus, one (vec, cid) hash
    aggregate with map-side combine, one (vec) argmin aggregate, one
    (cid, pos) mean aggregate — shuffles carry per-group partial sums,
    never vectors. The long centroid sum overflows only past ~3e10
    members per cluster; shard the sum by a vec_id salt before that."""
    _, _, asg = _km1_fit(spark, sf_dir)
    return asg.select(
        "vec_id",
        F.col("cid").cast("long").alias("cluster_id"),
        F.col("d2").alias("dist2_scaled"),
    )


def _km1_fit(spark: SparkSession, sf_dir: str):
    """The shared Lloyd's loop: returns (qx quantized explode,
    d_final full distance table of the LAST round, asg_final nearest
    assignment) — km1 surfaces asg; sil1 needs d_final for the
    second-nearest distances."""
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
    cent = qx.filter(F.col("vec_id") < _KM1_K).select(
        F.col("vec_id").alias("cid"), "pos", F.col("q").alias("qc")
    )
    d = asg = None
    for i in range(1, _KM1_ITERS + 1):
        diff = F.col("q") - F.col("qc")
        d = (
            qx.join(F.broadcast(cent), "pos")
            .groupBy("vec_id", "cid")
            .agg(F.sum(diff * diff).alias("d2"))
        )
        # min(struct) = lexicographic (d2, cid): exact integer argmin,
        # ties to the lowest centroid id — the oracle's ORDER BY d2, cid
        best = d.groupBy("vec_id").agg(F.min(F.struct("d2", "cid")).alias("b"))
        asg = best.select(
            "vec_id", F.col("b.cid").alias("cid"), F.col("b.d2").alias("d2")
        )
        if i < _KM1_ITERS:
            # pin the k×dims-row centroid table: the next round's
            # distance join re-derives the whole assignment chain
            # otherwise (guide §3.3; A/B
            # git show 555704a:tools/ab_r14_km.json)
            cent = pin(
                qx.join(asg.select("vec_id", "cid"), "vec_id")
                .groupBy("cid", "pos")
                .agg(
                    F.round(
                        F.sum("q").cast("double") / F.count("*").cast("double")
                    )
                    .cast("long")
                    .alias("qc")
                )
            )
    return qx, d, asg


km1_lloyd_kmeans.__doc__ = km1_lloyd_kmeans.__doc__.format(
    it=_KM1_ITERS, k=_KM1_K
)


@query(
    "emb5_centroid_outliers",
    oracle="""
    WITH comp AS (
      SELECT vec_id, label, CAST(i - 1 AS INTEGER) AS pos,
             CAST(embedding[i] AS DOUBLE) AS x
      FROM embeddings,
           UNNEST(generate_series(1, len(embedding))) AS t(i)
    ),
    cent AS (
      SELECT label, pos,
             round(CAST(SUM(CAST(CAST(x AS DOUBLE) AS DECIMAL(38,30)))
                        AS DOUBLE) / CAST(count(*) AS DOUBLE), 9) AS c
      FROM comp GROUP BY label, pos
    ),
    d AS (
      SELECT comp.vec_id, comp.label,
             CAST(SUM(CAST(CAST((comp.x - cent.c) * (comp.x - cent.c)
                                AS DECIMAL(24,6)) * 1000000 AS BIGINT))
                  AS BIGINT) AS d6
      FROM comp JOIN cent ON comp.label = cent.label AND comp.pos = cent.pos
      GROUP BY comp.vec_id, comp.label
    ),
    lab AS (
      SELECT label, CAST(SUM(d6) AS BIGINT) AS s6,
             CAST(count(*) AS BIGINT) AS n
      FROM d GROUP BY label
    )
    SELECT d.vec_id, d.label,
           CAST(d.d6 AS DOUBLE) / 1000000 AS dist2,
           lab.n AS n_members,
           CAST(lab.n AS DECIMAL(38,0)) * CAST(d.d6 AS DECIMAL(38,0))
             > 4 * CAST(lab.s6 AS DECIMAL(38,0)) AS is_outlier
    FROM d JOIN lab ON d.label = lab.label
    """,
)
def emb5_centroid_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space outlier audit: every vector's squared distance
    to its label's centroid, flagged ``is_outlier`` when it exceeds 4×
    the label's mean squared distance (i.e. 2× the RMS radius) — the
    curation gate that catches corrupt encodings, mislabeled members,
    and encoder-version drift BEFORE they poison semantic dedup (sdd1)
    or ANN recall. Centroids are emb2's exact element-wise means
    (DECIMAL(38,30) sums, 9-digit surfaced form); the distance metric
    is defined WITH per-element 1e-6 quantization (each squared
    component rounds once to DECIMAL(24,6), then sums as exact scaled
    BIGINT — the dot_decimal convention at audit precision), so both
    engines fold identical integers in any order. The outlier rule is
    CROSS-MULTIPLIED in DECIMAL(38,0) — ``n·d² > 4·Σd²`` — no division
    or float threshold anywhere a boundary could flip.

    Scale shape: one narrow posexplode feeds the centroid reduce
    (map-side-combined (label, pos) partial sums — only
    n_labels × dim rows shuffle) and the distance join (centroids
    broadcast); per-vector distances are one more map-side-combined
    groupBy, and the label totals (n_labels rows) broadcast back for
    the flag. Nothing corpus-sized shuffles more than the two
    aggregations."""
    comp = load(spark, sf_dir, "embeddings").select(
        "vec_id", "label", F.posexplode("embedding").alias("pos", "x")
    )
    cent = comp.groupBy("label", "pos").agg(
        F.round(
            F.sum(F.col("x").cast("double").cast("decimal(38,30)")).cast(
                "double"
            )
            / F.count("*").cast("double"),
            9,
        ).alias("c")
    )
    dx = F.col("x").cast("double") - F.col("c")
    d = (
        comp.join(F.broadcast(cent), ["label", "pos"])
        .select(
            "vec_id",
            "label",
            ((dx * dx).cast("decimal(24,6)") * F.lit(10**6))
            .cast("long")
            .alias("q6"),
        )
        .groupBy("vec_id", "label")
        .agg(F.sum("q6").cast("long").alias("d6"))
    )
    lab = d.groupBy("label").agg(
        F.sum("d6").cast("long").alias("s6"),
        F.count("*").cast("long").alias("n"),
    )
    return d.join(F.broadcast(lab), "label").select(
        "vec_id",
        "label",
        (F.col("d6").cast("double") / F.lit(1000000.0)).alias("dist2"),
        F.col("n").alias("n_members"),
        (
            F.col("n").cast("decimal(38,0)") * F.col("d6").cast("decimal(38,0)")
            > F.lit(4).cast("decimal(38,0)") * F.col("s6").cast("decimal(38,0)")
        ).alias("is_outlier"),
    )


_HLL_TOL = 0.05


@query(
    "hll1_sketch_union",
    oracle="""
    SELECT event_type,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact,
           TRUE AS approx_ok
    FROM events
    GROUP BY event_type
    """,
)
def hll1_sketch_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-sketch distinct counting: per-(event_type, shard)
    HyperLogLog partials union-merged per event_type — the TWO-PHASE
    aggregation every 100 TB distinct-count runs as (each executor
    sketches locally, only the 2^12-register sketches shuffle, never
    the values). Self-verifying like ``g6``: the query surfaces the
    EXACT distinct count plus an in-query check that the sketch
    estimate lands within 5% (HLL lgConfigK=12 has ~1.6% standard
    error), so the oracle compares the exact side and the sketch
    correctness is asserted by the query itself — a failed estimate
    flips ``approx_ok`` and the hash comparison catches it."""
    ev = load(spark, sf_dir, "events").select("event_type", "user_id")
    partials = ev.groupBy(
        "event_type", F.pmod(F.col("user_id"), F.lit(8)).alias("shard")
    ).agg(F.hll_sketch_agg("user_id").alias("sk"))
    merged = partials.groupBy("event_type").agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("n_approx")
    )
    exact = ev.groupBy("event_type").agg(
        F.count_distinct("user_id").alias("n_exact")
    )
    return exact.join(merged, "event_type").select(
        "event_type",
        "n_exact",
        (
            F.abs(F.col("n_approx") - F.col("n_exact"))
            / F.col("n_exact").cast("double")
            <= _HLL_TOL
        ).alias("approx_ok"),
    )


# --------------------------------------------------------------------------
# BFS shortest paths + data-quality audits
# --------------------------------------------------------------------------

_SP_MAX_DEPTH = 15

_SP_EDGES_CTE = f"""
    toks AS (
      SELECT doc_id, list_distinct(regexp_extract_all(text, '\\S+')) AS l
      FROM documents
    ),
    dw AS (SELECT doc_id, unnest(l) AS w FROM toks),
    e0 AS (
      SELECT a.w AS u, b.w AS v
      FROM dw a JOIN dw b ON a.doc_id = b.doc_id AND a.w < b.w
      GROUP BY a.w, b.w
      HAVING count(*) >= {_TRI_MIN_SUPPORT}
    ),
    edges AS (SELECT u, v FROM e0 UNION ALL SELECT v, u FROM e0),
    src AS (SELECT min(u) AS s FROM edges)
"""


@query(
    "sp1_shortest_path",
    oracle=f"""
    WITH RECURSIVE {_SP_EDGES_CTE},
    r(node, dist) AS (
      SELECT s, 0 FROM src
      UNION
      SELECT e.v, r.dist + 1
      FROM r JOIN edges e ON e.u = r.node
      WHERE r.dist < {_SP_MAX_DEPTH}
    )
    SELECT node, CAST(MIN(dist) AS INTEGER) AS dist
    FROM r GROUP BY node
    """,
)
def sp1_shortest_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-source BFS shortest paths on the (symmetrized) word
    co-occurrence graph, from the lexicographically smallest node —
    unweighted distances, all-integer, so cross-engine exact with no
    numeric care at all. The DuckDB oracle is a recursive CTE whose
    UNION-dedup keeps the state set at ≤ |V|·depth rows.

    Spark runs frontier BFS: per round, one join of the (shrinking)
    frontier against the edge list, an anti-join against the visited
    set, and a persist/unpersist handover — the sanctioned driver-loop
    shape shared with connected components and PageRank (the loop
    iterates ROUNDS = graph diameter, never rows; each round's
    termination check is one count). The source node is a 1-row
    aggregate cross-joined in, not a driver-side ``first()`` — the
    plan stays action-free until execution."""
    from pyspark.storagelevel import StorageLevel

    dw = load(spark, sf_dir, "documents").select(
        "doc_id", F.explode(F.array_distinct(tokens(F.col("text")))).alias("w")
    )
    a = dw.alias("a")
    b = dw.alias("b")
    e0 = (
        a.join(
            b,
            (F.col("a.doc_id") == F.col("b.doc_id"))
            & (F.col("a.w") < F.col("b.w")),
        )
        .groupBy(F.col("a.w").alias("u"), F.col("b.w").alias("v"))
        .agg(F.count("*").alias("sup"))
        .filter(F.col("sup") >= _TRI_MIN_SUPPORT)
        .select("u", "v")
    )
    edges = (
        e0.unionAll(e0.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    src = edges.agg(F.min("u").alias("node"))
    visited = src.withColumn("dist", F.lit(0)).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    frontier = visited.select("node")
    for depth in range(1, _SP_MAX_DEPTH + 1):
        # r14: localCheckpoint for the per-round handover — persist
        # materializes but keeps the whole union-chain lineage alive
        # (386 scans at explain), re-analyzed every round (A/B
        # git show 555704a:tools/ab_r14_swap.json)
        nxt = pin(
            frontier.join(edges, frontier["node"] == edges["u"])
            .select(F.col("v").alias("node"))
            .distinct()
            .join(visited, "node", "left_anti")
        )
        if nxt.isEmpty():
            break
        nv = pin(
            visited.unionAll(nxt.withColumn("dist", F.lit(depth)))
        )
        nv.count()  # materialize before releasing the parent cache
        # frees round 1's persisted seed (a no-op on later rounds);
        # checkpoint blocks are left to the ContextCleaner
        visited.unpersist()
        visited = nv
        frontier = nxt.select("node")
    edges.unpersist()
    return visited.select("node", F.col("dist").cast("int").alias("dist"))


_DQ_RELATIONSHIPS = [
    # (name, child table, fk, parent table, pk)
    ("orders->customer", "orders", "o_custkey", "customer", "c_custkey"),
    ("lineitem->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem->supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("lineitem->part", "lineitem", "l_partkey", "part", "p_partkey"),
    ("customer->nation", "customer", "c_nationkey", "nation", "n_nationkey"),
    ("supplier->nation", "supplier", "s_nationkey", "nation", "n_nationkey"),
    ("nation->region", "nation", "n_regionkey", "region", "r_regionkey"),
]


def _dq1_oracle() -> str:
    parts = []
    for name, child, fk, parent, pk in _DQ_RELATIONSHIPS:
        parts.append(f"""
    SELECT '{name}' AS relationship,
           CAST((SELECT count(*) FROM {child}) AS BIGINT) AS n_rows,
           CAST((SELECT count(*) FROM {child}
                 WHERE {fk} IS NOT NULL
                   AND NOT EXISTS (SELECT 1 FROM {parent}
                                   WHERE {pk} = {child}.{fk})) AS BIGINT)
             AS n_orphans""")
    return " UNION ALL ".join(parts)


@query("dq1_referential_integrity", oracle=_dq1_oracle())
def dq1_referential_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit across the full FK graph: per
    relationship, total child rows and orphaned child rows (non-null
    FK with no parent). The data-quality gate a warehouse load runs
    before publishing a batch — the reference trusts its sources
    (``dags/etl/stage_to_nds.py`` joins assume clean keys); this makes
    the assumption checkable.

    Each relationship is a LEFT ANTI join + count — Spark's anti joins
    broadcast the parent key set when small and shuffle otherwise, and
    the 7 one-row aggregates union into a single result. At 100 TB the
    child-side scans read ONLY the FK column (column pruning — the
    counts need nothing else)."""
    out = None
    for name, child, fk, parent, pk in _DQ_RELATIONSHIPS:
        c = load(spark, sf_dir, child)
        p = load(spark, sf_dir, parent)
        n_rows = c.agg(F.count("*").cast("long").alias("n_rows"))
        n_orphans = (
            c.select(fk)
            .filter(F.col(fk).isNotNull())
            .join(p.select(pk), c[fk] == p[pk], "left_anti")
            .agg(F.count("*").cast("long").alias("n_orphans"))
        )
        row = (
            n_rows.crossJoin(F.broadcast(n_orphans))
            .select(
                F.lit(name).alias("relationship"), "n_rows", "n_orphans"
            )
        )
        out = row if out is None else out.unionAll(row)
    return out


_DQ2_COLUMNS = [
    "l_orderkey",
    "l_partkey",
    "l_suppkey",
    "l_returnflag",
    "l_linestatus",
]


def _dq2_oracle() -> str:
    parts = []
    for c in _DQ2_COLUMNS:
        parts.append(f"""
    SELECT '{c}' AS col_name,
           CAST(count(*) - count({c}) AS BIGINT) AS n_nulls,
           CAST(count(DISTINCT {c}) AS BIGINT) AS n_distinct,
           CAST(min({c}) AS VARCHAR) AS min_val,
           CAST(max({c}) AS VARCHAR) AS max_val
    FROM lineitem""")
    return " UNION ALL ".join(parts)


@query("dq2_column_profile", oracle=_dq2_oracle())
def dq2_column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column profiling (the ANALYZE/stats-collection surface): null
    count, exact distinct count, and typed min/max (surfaced as
    strings) for the key and flag columns of the fact table.

    Two passes, each the cheap shape for its metric: nulls/min/max in
    ONE typed aggregation (no distinct machinery; min/max on the typed
    column — a string min of an integer column would order lexically),
    and the five exact distinct counts via an unpivoted TWO-PHASE
    dedup — stack to (col_name, value), groupBy both (map-side combine
    collapses duplicates BEFORE the shuffle), then count per column.
    The naive form (five COUNT(DISTINCT)s in one agg) compiles to an
    Expand ×5 whose duplicated stream shuffles undeduplicated — it
    measured 12.8s vs 3.9s for this plan at sf0.1. A 100 TB profile
    swaps the exact pass for approx_count_distinct partials, trading
    exactness it no longer needs. The string cast is injective on
    every profiled type, so distinct-on-cast equals distinct-typed."""
    li = load(spark, sf_dir, "lineitem").select(*_DQ2_COLUMNS)
    stacked = li.selectExpr(
        f"stack({len(_DQ2_COLUMNS)}, "
        + ", ".join(f"'{c}', CAST({c} AS STRING)" for c in _DQ2_COLUMNS)
        + ") AS (col_name, val)"
    )
    nd = (
        stacked.filter(F.col("val").isNotNull())
        .groupBy("col_name", "val")
        .agg(F.lit(1).alias("__one"))
        .groupBy("col_name")
        .agg(F.count("*").cast("long").alias("n_distinct"))
    )
    aggs = []
    for c in _DQ2_COLUMNS:
        aggs += [
            (F.count("*") - F.count(c)).cast("long").alias(f"{c}__nulls"),
            F.min(c).cast("string").alias(f"{c}__min"),
            F.max(c).cast("string").alias(f"{c}__max"),
        ]
    one = li.agg(*aggs)
    stack_args = ", ".join(
        f"'{c}', {c}__nulls, {c}__min, {c}__max" for c in _DQ2_COLUMNS
    )
    base = one.selectExpr(
        f"stack({len(_DQ2_COLUMNS)}, {stack_args}) AS "
        "(col_name, n_nulls, min_val, max_val)"
    )
    return base.join(F.broadcast(nd), "col_name").select(
        "col_name", "n_nulls", "n_distinct", "min_val", "max_val"
    )


# --------------------------------------------------------------------------
# anomaly detection + time-weighted rollup
# --------------------------------------------------------------------------

_AN1_Z = 3.0


@query(
    "an1_zscore_outliers",
    oracle=f"""
    WITH ev AS (
      SELECT event_id, event_type,
             CAST(round(value, 6) AS DECIMAL(18,6)) AS v
      FROM events
    ),
    s AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n,
             CAST(SUM(v) AS DOUBLE) AS sx,
             -- 19,6 x 19,6 multiplies inside DuckDB's 38-digit cap
             -- while covering |v| up to 1e12 (Spark's 18,6 product
             -- already widens to 37,12); sums stay exact either way
             CAST(SUM(CAST(v AS DECIMAL(19,6)) * CAST(v AS DECIMAL(19,6)))
                  AS DOUBLE) AS sxx
      FROM ev GROUP BY event_type
    ),
    z AS (
      SELECT ev.event_id, ev.event_type, CAST(ev.v AS DOUBLE) AS value,
             CASE WHEN s.n >= 2 AND (s.sxx - s.sx * s.sx / s.n) > 0
                  THEN round((CAST(ev.v AS DOUBLE) - s.sx / s.n)
                        / sqrt((s.sxx - s.sx * s.sx / s.n) / (s.n - 1)), 6)
             END AS zscore
      FROM ev JOIN s USING (event_type)
    )
    SELECT event_id, event_type, value, zscore,
           COALESCE(abs(zscore) > {_AN1_Z}, FALSE) AS is_outlier
    FROM z
    """,
)
def an1_zscore_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group z-score anomaly flags: every event scored against its
    event_type's mean/σ, computed from EXACT decimal power sums (the
    g8 convention — builtin stddev accumulates doubles in partition
    order and drifts run-to-run). Values are rounded to 6 digits
    before the decimal cast: round-half-away agrees across engines,
    whereas a raw double→decimal cast can land on a rounding tie.

    Shape: ONE aggregation pass for the group moments (tiny result),
    broadcast back onto the events — the score join adds no shuffle
    at any scale. The monitoring query every ingest pipeline runs."""
    ev = load(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.round(F.col("value"), 6).cast("decimal(18,6)").alias("v"),
    )
    s = ev.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("v").cast("double").alias("sx"),
        F.sum(F.col("v") * F.col("v")).cast("double").alias("sxx"),
    )
    # a single-event or constant-valued group has no dispersion to
    # score against: zscore is NULL (never an ANSI DIVIDE_BY_ZERO) and
    # the flag defaults false — the oracle's CASE/COALESCE twin
    var_num = F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n")
    z = F.when(
        (F.col("n") >= 2) & (var_num > 0),
        F.round(
            (F.col("v").cast("double") - F.col("sx") / F.col("n"))
            / F.sqrt(var_num / (F.col("n") - 1)),
            6,
        ),
    )
    return (
        ev.join(F.broadcast(s), "event_type")
        .select(
            "event_id",
            "event_type",
            F.col("v").cast("double").alias("value"),
            z.alias("zscore"),
        )
        .withColumn(
            "is_outlier",
            F.coalesce(F.abs(F.col("zscore")) > _AN1_Z, F.lit(False)),
        )
    )


@query(
    "ts2_time_weighted_avg",
    oracle="""
    WITH ev AS (
      SELECT user_id,
             epoch_us(CAST(ts AS TIMESTAMP)) AS t_us,
             CAST(round(value, 6) AS DECIMAL(18,6)) AS v,
             event_id
      FROM events
    ),
    seg AS (
      SELECT user_id, v,
             lead(t_us) OVER (
               PARTITION BY user_id ORDER BY t_us, event_id) - t_us AS dt_us
      FROM ev
    )
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_segments,
           CAST(SUM(dt_us) AS BIGINT) AS total_us,
           round(CAST(SUM(v * dt_us) AS DOUBLE)
                 / CAST(SUM(dt_us) AS DOUBLE), 6) AS twa_value
    FROM seg
    WHERE dt_us IS NOT NULL
    GROUP BY user_id
    HAVING SUM(dt_us) > 0
    """,
)
def ts2_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average per user — the hypertable-rollup
    aggregate for irregular samples: each observation is weighted by
    how long it was current (microseconds to the next event; a
    sequence's last observation, with nothing to bound it, drops out).
    All arithmetic is exact: integer microsecond durations × 6-digit
    decimal values, one IEEE division at the end, rounded on both
    sides.

    Plan note: the lead() window partitions by user_id and the
    aggregation groups by user_id — Spark reuses the window's hash
    partitioning for the groupBy, so the whole query is ONE exchange.
    The event_id tiebreak in the window order makes same-timestamp
    sequences deterministic."""
    ev = load(spark, sf_dir, "events").select(
        "user_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("t_us"),
        F.round(F.col("value"), 6).cast("decimal(18,6)").alias("v"),
        "event_id",
    )
    w = Window.partitionBy("user_id").orderBy("t_us", "event_id")
    seg = ev.select(
        "user_id", "v", (F.lead("t_us").over(w) - F.col("t_us")).alias("dt_us")
    ).filter(F.col("dt_us").isNotNull())
    return (
        seg.groupBy("user_id")
        .agg(
            F.count("*").cast("long").alias("n_segments"),
            F.sum("dt_us").cast("long").alias("total_us"),
            F.round(
                F.sum(F.col("v") * F.col("dt_us")).cast("double")
                / F.sum("dt_us").cast("double"),
                6,
            ).alias("twa_value"),
        )
        .filter(F.col("total_us") > 0)
    )


# --------------------------------------------------------------------------
# multimodal: overlapping analysis windows
# --------------------------------------------------------------------------

_M3_WINDOW = 256
_M3_HOP = 128


@query(
    "m3_overlap_frames",
    oracle=f"""
    WITH f AS (
      SELECT doc_id, CAST(i AS INTEGER) AS frame_idx,
             CAST(i * {_M3_HOP} AS BIGINT) AS frame_off,
             substr(text, CAST(i * {_M3_HOP} + 1 AS INTEGER), {_M3_WINDOW})
               AS frame
      FROM documents,
           UNNEST(range(0,
             CAST(floor((length(text) - {_M3_WINDOW}) / {_M3_HOP}) + 1
                  AS BIGINT))) u(i)
      WHERE length(text) >= {_M3_WINDOW}
    )
    SELECT doc_id, frame_idx, frame_off,
           md5(frame) AS frame_fp,
           CAST(len(regexp_extract_all(frame, '\\S+')) AS INTEGER)
             AS n_frame_tokens
    FROM f
    """,
)
def m3_overlap_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping analysis windows — the STFT/audio framing pattern
    (window {w}, hop {h}: adjacent frames share half their samples),
    vs ``m2``'s disjoint fixed-stride video frames. Only complete
    windows are emitted (a tail shorter than one window is dropped,
    as an STFT would). Each frame carries a fingerprint and a
    token-density proxy — the stand-ins for the spectral features a
    real audio decoder (not present in this container; see
    ``functions/multimodal.py``) would compute in the mapInPandas
    stage.

    The expansion is a narrow ``posexplode`` over a computed index
    range — ~len/hop rows per doc, no shuffle; at 100 TB the frame
    stream feeds the per-frame decode stage partition-parallel."""
    docs = load(spark, sf_dir, "documents")
    n_frames = F.floor(
        (F.length("text") - _M3_WINDOW) / F.lit(_M3_HOP)
    ) + 1
    idx = F.when(
        F.length("text") >= _M3_WINDOW,
        F.sequence(F.lit(0).cast("long"), n_frames - 1),
    ).otherwise(F.array().cast("array<long>"))
    frame = F.substring(
        F.col("text"),
        (F.col("frame_idx") * _M3_HOP + 1).cast("int"),
        _M3_WINDOW,
    )
    return (
        docs.select("doc_id", "text", idx.alias("__idx"))
        .filter(F.size("__idx") > 0)
        .select("doc_id", "text", F.explode("__idx").alias("frame_idx"))
        .select(
            "doc_id",
            F.col("frame_idx").cast("int").alias("frame_idx"),
            (F.col("frame_idx") * _M3_HOP).cast("long").alias("frame_off"),
            F.md5(frame.cast("binary")).alias("frame_fp"),
            F.size(
                F.regexp_extract_all(frame, F.lit(r"\S+"), 0)
            ).alias("n_frame_tokens"),
        )
    )


# --------------------------------------------------------------------------
# native recursive CTE (Spark 4.1 WITH RECURSIVE)
# --------------------------------------------------------------------------

@query(
    "rc1_recursive_hierarchy",
    oracle="""
    WITH RECURSIVE chain(node, cur, depth) AS (
      SELECT c_custkey, c_custkey, 0 FROM customer
      UNION ALL
      SELECT node, cur // 2, depth + 1 FROM chain WHERE cur > 1
    )
    SELECT node, CAST(max(depth) AS INTEGER) AS depth,
           CAST(count(*) AS BIGINT) AS chain_len
    FROM chain GROUP BY node
    """,
)
def rc1_recursive_hierarchy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native ``WITH RECURSIVE`` (new engine surface in Spark 4.1):
    every customer is a node of a heap-shaped hierarchy (parent = key
    div 2, root = 1) and the recursion walks each node's ancestor
    chain to the root, yielding per-node depth — the org-chart /
    category-tree traversal pattern, executed by the engine's own
    iterative UnionLoop instead of the driver-side loops used for the
    dense-graph algorithms (sp1/gr1/d6). Linear recursion: each row
    has exactly ONE successor, so total state is N·log N rows and no
    UNION-dedup is needed (Spark 4.1 supports only UNION ALL in
    recursive CTEs — fine here, explosive on cyclic graphs, which is
    why sp1 keeps the frontier-loop form). Integer-only arithmetic:
    nothing to round, bit-exact against DuckDB's identical recursion."""
    # A DataFrame argument is registered as a generated temp view that
    # spark.sql drops before it returns, so the session keeps no view.
    return spark.sql(
        """
      WITH RECURSIVE chain(node, cur, depth) AS (
        SELECT c_custkey, c_custkey, 0 FROM {src}
        UNION ALL
        SELECT node, cur div 2, depth + 1 FROM chain WHERE cur > 1
      )
      SELECT node, CAST(max(depth) AS INT) AS depth,
             CAST(count(*) AS BIGINT) AS chain_len
      FROM chain GROUP BY node
    """,
        src=load(spark, sf_dir, "customer").select("c_custkey"),
    )


@query(
    "x10_variant_extract",
    oracle="""
    SELECT event_id,
           CASE WHEN json_valid(props)
                THEN CAST(json_extract_string(props, '$.k') AS INTEGER)
           END AS k_value,
           CASE WHEN json_valid(props)
                THEN CAST(json_extract_string(props, '$.missing') AS INTEGER)
           END AS missing_value,
           props IS NULL OR COALESCE(json_valid(props), FALSE) AS parseable
    FROM events
    """,
)
def x10_variant_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The VARIANT semi-structured path (Spark 4's columnar JSON
    encoding — ``parse_json`` once, then typed ``variant_get``
    extractions that prune into the binary encoding instead of
    re-parsing text per path, the way ``get_json_object`` in x5
    does). ``try_variant_get`` of an absent path is NULL, not an
    error; ``try_parse_json`` returns NULL on malformed input, which
    the ``parseable`` flag surfaces. At 100 TB the parse cost is paid
    once per row regardless of how many paths are later extracted —
    the reason VARIANT exists."""
    ev = load(spark, sf_dir, "events")
    # try_parse_json (not parse_json): a malformed non-NULL props row
    # degrades to NULL extracts + parseable=false, matching the oracle
    # and the docstring, instead of failing the whole query.
    v = F.try_parse_json(F.col("props"))
    return ev.select(
        "event_id",
        F.try_variant_get(v, "$.k", "int").alias("k_value"),
        F.try_variant_get(v, "$.missing", "int").alias("missing_value"),
        (
            F.try_parse_json(F.col("props")).isNotNull()
            | F.col("props").isNull()
        ).alias("parseable"),
    )


# --------------------------------------------------------------------------
# end-to-end curation pipeline (quality -> dedup -> sample -> pack)
# --------------------------------------------------------------------------

_CP_CE = CE_HASH64_SQL.format(h="md5('cp|'||CAST(doc_id AS VARCHAR))")
_CP_KEEP_PERMILLE = 700
_CP_SHARD_CE = CE_HASH64_SQL.format(h="md5('cpshard|'||CAST(doc_id AS VARCHAR))")
_CP_N_SHARDS = 4
_CP_BUDGET = 2048


@query(
    "cp1_curation_pipeline",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id,
             CAST(len(regexp_extract_all(text, '\\S+')) AS BIGINT) AS n_tokens,
             md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp,
             CAST(len(regexp_extract_all(lower(text), '{_STOPWORD_RE}'))
               AS INTEGER) AS stop_hits
      FROM documents
    ),
    quality AS (
      SELECT * FROM scored
      WHERE n_tokens BETWEEN 50 AND 100000 AND stop_hits >= 2
    ),
    dedup AS (
      SELECT doc_id, n_tokens FROM quality q
      WHERE doc_id = (SELECT min(doc_id) FROM quality q2 WHERE q2.fp = q.fp)
    ),
    sampled AS (
      SELECT doc_id, n_tokens FROM dedup
      WHERE ((({_CP_CE}) % 1000) + 1000) % 1000 < {_CP_KEEP_PERMILLE}
    ),
    sharded AS (
      SELECT doc_id, n_tokens,
             CAST(((({_CP_SHARD_CE}) % {_CP_N_SHARDS}) + {_CP_N_SHARDS})
                  % {_CP_N_SHARDS} AS BIGINT) AS shard
      FROM sampled
    ),
    packed AS (
      SELECT doc_id, n_tokens, shard,
             CAST(COALESCE(SUM(n_tokens) OVER (
               PARTITION BY shard ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS stream_offset
      FROM sharded
    )
    SELECT doc_id, n_tokens, shard,
           CAST(floor(stream_offset / {_CP_BUDGET}.0) AS BIGINT) AS bin_id
    FROM packed
    """,
)
def cp1_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The END-TO-END curation pipeline as ONE declarative plan:
    quality gate (qc1's token/stopword rules) → exact near-format
    dedup (t3's normalized fingerprint, keep-smallest) → deterministic
    70% sample (samp1's hash rule) → packing manifest (pack1's
    per-shard prefix-sum bins). Every stage is individually
    oracle-proven elsewhere in the registry; this entry proves the
    COMPOSITION — Catalyst fuses the quality filter and both hash
    filters into the scan stage, so the full pipeline is: one scan,
    one dedup aggregation, one packing window. Exactly the plan you
    want at 100 TB: the narrow stages cost nothing extra, and the two
    shuffles (fingerprint groupBy, shard window) are the
    irreducible ones."""
    docs = load(spark, sf_dir, "documents")
    n_tokens = F.size(tokens(F.col("text"))).cast("long")
    fp = F.md5(
        F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ").cast(
            "binary"
        )
    )
    stop_hits = F.size(
        F.regexp_extract_all(F.lower(F.col("text")), F.lit(_STOPWORD_RE), 0)
    )
    quality = docs.select(
        "doc_id", n_tokens.alias("n_tokens"), fp.alias("fp")
    ).filter(n_tokens.between(50, 100000) & (stop_hits >= 2))
    keeper = Window.partitionBy("fp")
    dedup = (
        quality.withColumn("keep_id", F.min("doc_id").over(keeper))
        .filter(F.col("doc_id") == F.col("keep_id"))
        .select("doc_id", "n_tokens")
    )
    sampled = dedup.filter(
        F.pmod(
            ce_hash64(F.concat(F.lit("cp|"), F.col("doc_id").cast("string"))),
            F.lit(1000),
        )
        < _CP_KEEP_PERMILLE
    )
    sharded = sampled.withColumn(
        "shard",
        F.pmod(
            ce_hash64(
                F.concat(F.lit("cpshard|"), F.col("doc_id").cast("string"))
            ),
            F.lit(_CP_N_SHARDS),
        ),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return sharded.select(
        "doc_id",
        "n_tokens",
        "shard",
        F.floor(
            F.coalesce(F.sum("n_tokens").over(w), F.lit(0)) / _CP_BUDGET
        )
        .cast("long")
        .alias("bin_id"),
    )


# --------------------------------------------------------------------------
# benchmark decontamination (test-set n-gram overlap)
# --------------------------------------------------------------------------

_DC_K = 8  # shingle width: standard decontamination uses 8-13 word n-grams
_DC_BENCH_DOCS = 10  # stand-in eval set: first N docs
_DC_FLAG_RATE = 0.1


@query(
    "dc1_decontamination",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, regexp_extract_all(text, '\\S+') AS l FROM documents
    ),
    sh AS (
      SELECT doc_id,
             list_distinct([array_to_string(l[i:i+{_DC_K}-1], ' ')
                            for i in range(1, len(l) - {_DC_K} + 2)]) AS s
      FROM toks WHERE len(l) >= {_DC_K}
    ),
    bench AS (
      SELECT DISTINCT unnest(s) AS shingle FROM sh
      WHERE doc_id < {_DC_BENCH_DOCS}
    ),
    corpus AS (
      SELECT doc_id, unnest(s) AS shingle FROM sh
      WHERE doc_id >= {_DC_BENCH_DOCS}
    ),
    tot AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shingles
      FROM corpus GROUP BY doc_id
    ),
    hits AS (
      SELECT c.doc_id, CAST(count(*) AS BIGINT) AS n_contaminated
      FROM corpus c JOIN bench b ON c.shingle = b.shingle
      GROUP BY c.doc_id
    )
    SELECT t.doc_id, t.n_shingles,
           COALESCE(h.n_contaminated, 0) AS n_contaminated,
           CAST(COALESCE(h.n_contaminated, 0) AS DOUBLE) / t.n_shingles
             AS contamination_rate,
           CAST(COALESCE(h.n_contaminated, 0) AS DOUBLE) / t.n_shingles
             > {_DC_FLAG_RATE} AS contaminated
    FROM tot t LEFT JOIN hits h ON t.doc_id = h.doc_id
    """,
)
def dc1_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination — the eval-set overlap check every
    pretraining corpus must run: each training doc is scored by the
    fraction of its distinct {k}-word shingles that appear anywhere in
    the benchmark set (stand-in: the first {n} docs), and flagged past
    {r:.0%}. Exact-match n-gram overlap is the published method
    (GPT-3 appendix C, PaLM §7).

    Scale shape: the benchmark shingle set is DISTINCT'd before the
    join (eval suites are tiny — a few M shingles — so this side
    broadcasts at any real scale); the corpus side is one narrow
    shingle explode joined against it, then two per-doc counts. No
    quadratic step; the shingle width k bounds memory per row."""
    from pyspark.storagelevel import StorageLevel

    docs = load(spark, sf_dir, "documents")
    from ..functions.dedup import word_shingles

    # three consumers (benchmark set, per-doc totals, hit counts) —
    # persist the exploded shingles or the build runs three times
    sh = docs.select(
        "doc_id", F.explode(word_shingles(F.col("text"), _DC_K)).alias("shingle")
    ).persist(StorageLevel.MEMORY_AND_DISK)
    bench = (
        sh.filter(F.col("doc_id") < _DC_BENCH_DOCS)
        .select("shingle")
        .distinct()
    )
    corpus = sh.filter(F.col("doc_id") >= _DC_BENCH_DOCS)
    tot = corpus.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_shingles")
    )
    hits = (
        corpus.join(F.broadcast(bench), "shingle")
        .groupBy("doc_id")
        .agg(F.count("*").cast("long").alias("n_contaminated"))
    )
    rate = F.coalesce(F.col("n_contaminated"), F.lit(0)).cast(
        "double"
    ) / F.col("n_shingles")
    return tot.join(hits, "doc_id", "left_outer").select(
        "doc_id",
        "n_shingles",
        F.coalesce(F.col("n_contaminated"), F.lit(0).cast("long")).alias(
            "n_contaminated"
        ),
        rate.alias("contamination_rate"),
        (rate > _DC_FLAG_RATE).alias("contaminated"),
    )


_DC2_SPAN_TOKENS = 6  # answer-span width taken from each eval doc


@query(
    "dc2_exact_leak",
    oracle=f"""
    WITH norm AS (
      SELECT doc_id,
             array_to_string(regexp_extract_all(text, '\\S+'), ' ') AS t
      FROM documents
    ),
    spans AS (
      SELECT doc_id AS eval_id,
             array_to_string(
               (regexp_extract_all(text, '\\S+'))[1:{_DC2_SPAN_TOKENS}],
               ' ') AS span
      FROM documents
      WHERE doc_id < {_DC_BENCH_DOCS}
        AND len(regexp_extract_all(text, '\\S+')) >= {_DC2_SPAN_TOKENS}
    ),
    hits AS (
      SELECT n.doc_id, CAST(count(*) AS BIGINT) AS n_leaked
      FROM norm n JOIN spans s ON contains(n.t, s.span)
      WHERE n.doc_id >= {_DC_BENCH_DOCS}
      GROUP BY n.doc_id
    )
    SELECT n.doc_id,
           COALESCE(h.n_leaked, 0) AS n_leaked,
           COALESCE(h.n_leaked, 0) > 0 AS leaked
    FROM norm n LEFT JOIN hits h USING (doc_id)
    WHERE n.doc_id >= {_DC_BENCH_DOCS}
    """,
)
def dc2_exact_leak(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact answer-span leak check — dc1's complement: dc1 scores
    APPROXIMATE overlap by shingle fraction; dc2 flags the hard case a
    threshold can miss, a verbatim eval answer embedded in a training
    doc. Each eval doc (stand-in: first {n} docs) contributes its
    whitespace-normalized first-{k}-token span; a training doc is
    flagged if any span appears as an exact substring (both sides
    canonicalized to single-space so formatting differences don't hide
    a leak).

    Scale shape: the span table is eval-set-sized (tiny at any scale)
    and BROADCASTs onto one narrow pass over the corpus — a
    broadcast-nested-loop with |evals| substring probes per doc, the
    standard published shape (contains() compiles to JVM indexOf, no
    Python). No shuffle except the per-doc count."""
    from ..functions.dedup import tokens

    docs = load(spark, sf_dir, "documents")
    norm = docs.select(
        "doc_id", F.concat_ws(" ", tokens(F.col("text"))).alias("t")
    )
    spans = (
        docs.filter(F.col("doc_id") < _DC_BENCH_DOCS)
        .select(
            F.concat_ws(
                " ", F.slice(tokens(F.col("text")), 1, _DC2_SPAN_TOKENS)
            ).alias("span"),
            F.size(tokens(F.col("text"))).alias("__nt"),
        )
        .filter(F.col("__nt") >= _DC2_SPAN_TOKENS)
        .select("span")
    )
    corpus = norm.filter(F.col("doc_id") >= _DC_BENCH_DOCS)
    hits = (
        corpus.join(
            F.broadcast(spans), F.instr(F.col("t"), F.col("span")) > 0
        )
        .groupBy("doc_id")
        .agg(F.count("*").cast("long").alias("n_leaked"))
    )
    return corpus.join(hits, "doc_id", "left_outer").select(
        "doc_id",
        F.coalesce(F.col("n_leaked"), F.lit(0).cast("long")).alias("n_leaked"),
        (F.coalesce(F.col("n_leaked"), F.lit(0)) > 0).alias("leaked"),
    )


_DC3_PROBE_STEP = 25  # every 25th vector contributes an eval probe
_DC3_PROBE_CAP = 500  # probe ids stay below this: a FIXED 20-probe eval
# set at every scale factor (the corpus grows, the eval suite doesn't)
_DC3_FLAG_SIM = 0.92  # well inside the ~0.99 probe-source margin


def _dc3_probes(emb: DataFrame) -> DataFrame:
    """The self-derived eval-probe set: every ``_DC3_PROBE_STEP``-th
    vector, elements quantized to one decimal (a deterministic
    'paraphrase' at cos ≈ 0.99+ to its source)."""
    return emb.filter(
        (F.col("vec_id") % _DC3_PROBE_STEP == 0)
        & (F.col("vec_id") < _DC3_PROBE_CAP)
    ).select(
        F.col("vec_id").alias("eval_id"),
        F.transform(
            "embedding", lambda e: F.round(e.cast("double"), 1)
        ).alias("qv"),
    )


@query(
    "dc3_semantic_decontamination",
    oracle=f"""
    WITH probes AS (
      SELECT vec_id AS eval_id,
             list_transform(embedding,
                            e -> round(CAST(e AS DOUBLE), 1)) AS qv
      FROM embeddings
      WHERE vec_id % {_DC3_PROBE_STEP} = 0 AND vec_id < {_DC3_PROBE_CAP}
    ),
    pairs AS (
      SELECT e.vec_id, p.eval_id, unnest(e.embedding) AS x, unnest(p.qv) AS y
      FROM embeddings e, probes p
    ),
    sims AS (
      SELECT vec_id, eval_id,
             round(CAST(SUM({_LONG_PROD}) AS DOUBLE)
               / (sqrt(CAST(SUM({_LONG_XX}) AS DOUBLE))
                  * sqrt(CAST(SUM({_LONG_YY}) AS DOUBLE))), 6) AS sim
      FROM pairs GROUP BY vec_id, eval_id
      HAVING SUM({_LONG_XX}) > 0 AND SUM({_LONG_YY}) > 0
    ),
    r AS (
      SELECT vec_id, eval_id, sim,
             row_number() OVER (
               PARTITION BY vec_id ORDER BY sim DESC, eval_id) AS rk
      FROM sims
    )
    SELECT vec_id, sim AS max_eval_sim, eval_id AS nearest_eval_id,
           sim >= {_DC3_FLAG_SIM} AS contaminated
    FROM r WHERE rk = 1
    """,
)
def dc3_semantic_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic (embedding-space) decontamination — the
    paraphrase-robust complement to dc1's exact n-gram rule: a
    reworded eval question shares no 8-gram with its source but stays
    nearly collinear in embedding space, so each corpus vector is
    scored by its MAX cosine against the eval-probe set and flagged
    past {t}. Published form: contamination/dedup via embedding
    similarity thresholds (SemDeDup, Abbas et al. 2023; LLM eval-set
    audits). The eval set here is self-derived so every scale factor
    has true positives: every {s}th vector contributes a probe
    quantized to one decimal per element — a deterministic
    "paraphrase" at cos ≈ 0.99+ to its source and ≤ ~0.5 to everything
    else, reproduced verbatim in the oracle (round() is
    half-away-from-zero in BOTH engines, and float32 inputs never land
    on exact .x5 boundaries).

    Scale shape: the probe table is eval-suite-sized and BROADCASTs;
    the corpus side is one narrow posexplode and ONE codegen hash
    aggregate over |corpus|×|probes| pair groups with exact scaled-
    BIGINT sums (the knn1 convention — no BigDecimal in the fold, no
    Python). Zero-norm vectors on either side drop under the same
    HAVING rule."""
    emb = load_spread(spark, sf_dir, "embeddings")
    probes = _dc3_probes(emb)
    long_prod = lambda a, b: F.round(  # noqa: E731
        a.cast("double") * b.cast("double") * F.lit(1e14)
    ).cast("long")
    cexp = emb.select("vec_id", F.posexplode("embedding").alias("pos", "x"))
    qexp = probes.select("eval_id", F.posexplode("qv").alias("pos", "y"))
    sims = (
        cexp.join(F.broadcast(qexp), "pos")
        .groupBy("vec_id", "eval_id")
        .agg(
            F.sum(long_prod(F.col("x"), F.col("y"))).alias("dot"),
            F.sum(long_prod(F.col("x"), F.col("x"))).alias("nx"),
            F.sum(long_prod(F.col("y"), F.col("y"))).alias("ny"),
        )
        .filter((F.col("nx") > 0) & (F.col("ny") > 0))
        .select(
            "vec_id",
            "eval_id",
            F.round(
                F.col("dot").cast("double")
                / (
                    F.sqrt(F.col("nx").cast("double"))
                    * F.sqrt(F.col("ny").cast("double"))
                ),
                6,
            ).alias("sim"),
        )
    )
    w = Window.partitionBy("vec_id").orderBy(
        F.col("sim").desc(), F.col("eval_id")
    )
    return (
        sims.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select(
            "vec_id",
            F.col("sim").alias("max_eval_sim"),
            F.col("eval_id").alias("nearest_eval_id"),
            (F.col("sim") >= _DC3_FLAG_SIM).alias("contaminated"),
        )
    )


# --------------------------------------------------------------------------
# sliding-window distinct counts + top-p vocabulary truncation
# --------------------------------------------------------------------------


@query(
    "w6_sliding_distinct",
    oracle="""
    WITH ev AS (SELECT CAST(ts AS TIMESTAMP) AS ts, user_id FROM events),
    slotted AS (
      SELECT
        CAST(to_timestamp((CAST(floor(epoch(ts) / 900) AS BIGINT) - u.i) * 900)
             AS TIMESTAMP) AS window_start,
        user_id
      FROM ev, UNNEST([0, 1, 2, 3]) AS u(i)
    )
    SELECT window_start,
           window_start + INTERVAL 1 HOUR AS window_end,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_distinct_users,
           CAST(count(*) AS BIGINT) AS n_events
    FROM slotted
    GROUP BY 1, 2
    """,
)
def w6_sliding_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTINCT counting over sliding windows (1 hour, 15-minute
    slide — every event lands in 4 windows): unique active users per
    window, the realtime-dashboard aggregate that naive COUNT can't
    give. Exact two-phase form: first groupBy (window, user) — the
    partial aggregation collapses a user's duplicate events map-side,
    so the second (window)-level count shuffles one row per (window,
    user), never per event. The oracle enumerates the 4 slots per
    event explicitly (the e3 pattern); Spark's ``window()`` operator
    does the same expansion internally. At 100 TB the per-user dedup
    level is also where a sketch (hll1's partials) would slot in when
    exactness stops being worth the shuffle width."""
    per_user = (
        load(spark, sf_dir, "events")
        .groupBy(
            F.window("ts", "1 hour", "15 minutes").alias("w"), "user_id"
        )
        .agg(F.count("*").alias("n"))
    )
    return (
        per_user.groupBy("w")
        .agg(
            F.count("*").cast("long").alias("n_distinct_users"),
            F.sum("n").cast("long").alias("n_events"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "n_distinct_users",
            "n_events",
        )
    )


_TOPP = 0.8


@query(
    "t10_topp_vocab",
    oracle=f"""
    WITH uc AS (
      SELECT w, CAST(count(*) AS BIGINT) AS c
      FROM (SELECT unnest(regexp_extract_all(text, '\\S+')) AS w
            FROM documents)
      GROUP BY w
    ),
    tot AS (SELECT CAST(SUM(c) AS DOUBLE) AS n FROM uc),
    ranked AS (
      SELECT w, c,
             CAST(SUM(c) OVER (ORDER BY c DESC, w
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS cum_c
      FROM uc
    )
    SELECT w AS token, c AS cnt,
           CAST(cum_c AS DOUBLE) / tot.n AS cum_share
    FROM ranked, tot
    WHERE (CAST(cum_c AS DOUBLE) - CAST(c AS DOUBLE)) / tot.n < {_TOPP}
    """,
)
def t10_topp_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-p (nucleus) vocabulary truncation: keep the smallest
    count-ordered prefix of the vocabulary covering {p:.0%} of token
    mass — the probability-mass twin of t9's top-K cut, and the rule
    BPE/unigram vocab builders actually use. A token is kept iff the
    mass BEFORE it is under the threshold (so the token crossing the
    boundary is included and coverage ≥ p is guaranteed). Integer
    cumulative counts divided once at the end — no accumulated float
    error, deterministic tie-break (count desc, token asc).

    The running sum is a single global window over VOCABULARY rows
    (not corpus rows) — bounded at any corpus scale, the documented
    exception to the no-global-window rule, same class as w1's
    post-filter rank."""
    uni = (
        load(spark, sf_dir, "documents")
        .select(F.explode(tokens(F.col("text"))).alias("w"))
        .groupBy("w")
        .agg(F.count("*").cast("long").alias("c"))
    )
    tot = uni.agg(F.sum("c").cast("double").alias("n"))
    w = Window.orderBy(F.col("c").desc(), F.col("w")).rowsBetween(
        Window.unboundedPreceding, 0
    )
    ranked = uni.withColumn("cum_c", F.sum("c").over(w).cast("long"))
    return (
        ranked.crossJoin(F.broadcast(tot))
        .filter(
            (F.col("cum_c").cast("double") - F.col("c").cast("double"))
            / F.col("n")
            < _TOPP
        )
        .select(
            F.col("w").alias("token"),
            F.col("c").alias("cnt"),
            (F.col("cum_c").cast("double") / F.col("n")).alias("cum_share"),
        )
    )


# --------------------------------------------------------------------------
# vector normalization + calendar function surface
# --------------------------------------------------------------------------


@query(
    "emb3_unit_normalize",
    oracle="""
    WITH comp AS (
      SELECT vec_id, CAST(i - 1 AS INTEGER) AS pos,
             CAST(embedding[i] AS DOUBLE) AS x
      FROM embeddings,
           UNNEST(generate_series(1, len(embedding))) AS t(i)
    ),
    n AS (
      SELECT vec_id, pos, x,
             SUM(CAST(round(x * x * 1e14) AS BIGINT))
               OVER (PARTITION BY vec_id) AS n2
      FROM comp
    )
    SELECT vec_id, pos,
           round(x * 1e7 / NULLIF(sqrt(CAST(n2 AS DOUBLE)), 0), 6) AS unit
    FROM n
    """,
)
def emb3_unit_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2 unit normalization of every embedding — the preprocessing
    step before any cosine pipeline (after it, cosine = plain dot).
    Squared norms accumulate as scaled BIGINTs (the knn1 convention:
    exact integer sums, whole-stage codegen), and the norm is applied
    as ``x·1e7 / sqrt(n2)`` — one multiply and one divide, written
    identically in the oracle so every IEEE rounding step matches.

    Plan: posexplode → ONE window sum partitioned by vec_id → project.
    The window replaces the groupBy+join-back diamond (which would
    recompute or shuffle the explode twice) — a single exchange,
    partitioned by vector id, scale-independent."""
    comp = load(spark, sf_dir, "embeddings").select(
        "vec_id", F.posexplode("embedding").alias("pos", "x")
    )
    x = F.col("x").cast("double")
    w = Window.partitionBy("vec_id")
    n2 = F.sum(F.round(x * x * F.lit(1e14)).cast("long")).over(w)
    # the zero vector cannot be unit-normalized: its components surface
    # as NULL (the oracle's NULLIF), never an ANSI DIVIDE_BY_ZERO
    return comp.select(
        "vec_id",
        "pos",
        F.when(
            n2 > 0, F.round(x * F.lit(1e7) / F.sqrt(n2.cast("double")), 6)
        ).alias("unit"),
    )


@query(
    "x11_calendar_funcs",
    oracle="""
    SELECT o_orderkey,
           CAST(o_orderdate AS TIMESTAMP) AS order_ts,
           CAST(year(o_orderdate) AS INTEGER) AS yr,
           CAST(quarter(o_orderdate) AS INTEGER) AS qtr,
           CAST(month(o_orderdate) AS INTEGER) AS mo,
           CAST(dayofmonth(o_orderdate) AS INTEGER) AS dom,
           CAST(dayofweek(o_orderdate) + 1 AS INTEGER) AS dow,
           CAST(dayofyear(o_orderdate) AS INTEGER) AS doy,
           CAST(last_day(o_orderdate) AS TIMESTAMP) AS month_end,
           CAST(o_orderdate + INTERVAL 1 MONTH AS TIMESTAMP) AS next_month,
           CAST(date_trunc('week', o_orderdate) AS TIMESTAMP) AS week_start
    FROM orders
    """,
)
def x11_calendar_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar/date function surface: year/quarter/month/day parts,
    day-of-week (Spark numbers Sunday=1; the oracle's Sunday=0
    convention is shifted to match), day-of-year, month-end,
    month-arithmetic with end-of-month clamping (add_months), and
    ISO week start. DATE values are surfaced as midnight TIMESTAMPs
    on both sides (the cross-engine DATE rendering rule). Pure
    projection — zero shuffles."""
    o = load(spark, sf_dir, "orders")
    d = F.col("o_orderdate")
    return o.select(
        "o_orderkey",
        d.cast("timestamp").alias("order_ts"),
        F.year(d).cast("int").alias("yr"),
        F.quarter(d).cast("int").alias("qtr"),
        F.month(d).cast("int").alias("mo"),
        F.dayofmonth(d).cast("int").alias("dom"),
        F.dayofweek(d).cast("int").alias("dow"),
        F.dayofyear(d).cast("int").alias("doy"),
        F.last_day(d).cast("timestamp").alias("month_end"),
        F.add_months(d, 1).cast("timestamp").alias("next_month"),
        F.date_trunc("week", d).cast("timestamp").alias("week_start"),
    )


# --------------------------------------------------------------------------
# join/set-op/aggregate surface completeness
# --------------------------------------------------------------------------


@query(
    "j13_null_safe_join",
    oracle="""
    WITH l AS (
      SELECT o_orderkey, nullif(o_orderstatus, 'F') AS k FROM orders
    ),
    r AS (
      SELECT DISTINCT nullif(o_orderstatus, 'F') AS k,
             COALESCE(nullif(o_orderstatus, 'F'), 'UNKNOWN') AS label
      FROM orders
    )
    SELECT l.o_orderkey, r.label
    FROM l JOIN r ON l.k IS NOT DISTINCT FROM r.k
    """,
)
def j13_null_safe_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equality join (``<=>`` / IS NOT DISTINCT FROM): the
    'unknown matches unknown' dimension lookup — plain equality would
    silently DROP every NULL-keyed row (NULL = NULL is NULL), the
    classic SCD-attribute bug that F4 documents for NOT IN. The
    nullable key is derived (status 'F' → NULL) since the synthetic
    corpus ships null-free. ``eqNullSafe`` stays a hash join (NULL
    hashes like any value under null-safe semantics) — no plan
    penalty vs plain equality."""
    orders = load(spark, sf_dir, "orders")
    k = F.nullif(F.col("o_orderstatus"), F.lit("F"))
    left = orders.select("o_orderkey", k.alias("k"))
    right = (
        orders.select(k.alias("k"))
        .distinct()
        .select("k", F.coalesce(F.col("k"), F.lit("UNKNOWN")).alias("label"))
    )
    return left.join(
        F.broadcast(right), left["k"].eqNullSafe(right["k"])
    ).select("o_orderkey", "label")


@query(
    "u4_except_all",
    oracle="""
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
    EXCEPT ALL
    SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
    """,
)
def u4_except_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT ALL (bag difference: multiplicity = max(0, l−r)) —
    completes the set-op family (u1 distinct ops, u2 EXCEPT, u3
    INTERSECT ALL). Spark compiles it to one aggregation over tagged
    counts, not a join per duplicate."""
    orders = load(spark, sf_dir, "orders")
    open_cust = orders.filter(F.col("o_orderstatus") == "O").select("o_custkey")
    urgent = orders.filter(F.col("o_orderpriority") == "1-URGENT").select(
        "o_custkey"
    )
    return open_cust.exceptAll(urgent)


@query(
    "g12_conditional_aggs",
    oracle="""
    WITH top AS (
      SELECT event_type, event_id FROM (
        SELECT event_type, event_id,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY value DESC, event_id DESC) AS rn
        FROM events
      ) WHERE rn = 1
    )
    SELECT e.event_type,
           CAST(count(*) FILTER (WHERE e.value > 250) AS BIGINT) AS n_high,
           bool_or(e.value > 490) AS any_extreme,
           bool_and(e.value >= 0) AS all_nonneg,
           max(t.event_id) AS top_event_id
    FROM events e JOIN top t USING (event_type)
    GROUP BY e.event_type
    """,
)
def g12_conditional_aggs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional/boolean aggregate surface: count_if, bool_or,
    bool_and, and a deterministic arg-max. ``max_by`` alone ties
    nondeterministically when two events share a value, so the
    ordering key is the STRUCT (value, event_id) — lexicographic
    struct comparison is defined identically in Spark and DuckDB,
    and unlike the earlier encoded-BIGINT key (round(value·1e6)·2³³ +
    id) it cannot overflow for any finite value, a hazard the
    adversarial events fixture's 1e9 value exposed under ANSI mode.
    One aggregation pass, map-side combined."""
    ev = load(spark, sf_dir, "events")
    key = F.struct(F.col("value").alias("k1"), F.col("event_id").alias("k2"))
    return ev.groupBy("event_type").agg(
        F.count_if(F.col("value") > 250).cast("long").alias("n_high"),
        F.bool_or(F.col("value") > 490).alias("any_extreme"),
        F.bool_and(F.col("value") >= 0).alias("all_nonneg"),
        F.max_by(F.col("event_id"), key).alias("top_event_id"),
    )


# --------------------------------------------------------------------------
# cumulative distinct users + distribution drift
# --------------------------------------------------------------------------


@query(
    "r3_new_users_cumulative",
    oracle="""
    WITH ev AS (SELECT CAST(ts AS TIMESTAMP) AS ts, user_id FROM events),
    first_seen AS (
      SELECT user_id, CAST(date_trunc('day', min(ts)) AS TIMESTAMP) AS day
      FROM ev GROUP BY user_id
    ),
    daily AS (
      SELECT day, CAST(count(*) AS BIGINT) AS n_new
      FROM first_seen GROUP BY day
    )
    SELECT day, n_new,
           CAST(SUM(n_new) OVER (ORDER BY day
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS cumulative_users
    FROM daily
    """,
)
def r3_new_users_cumulative(spark: SparkSession, sf_dir: str) -> DataFrame:
    """New users per day + running total distinct users — the growth
    dashboard. 'Running COUNT DISTINCT' has no windowed form in any
    engine; the exact scalable rewrite is: min(ts) per user (one
    groupBy — each user collapses to one row), count per first-seen
    day, then a running sum over DAYS. The final window is global but
    over calendar days — bounded at any scale (the t10/w1 documented
    exception class)."""
    ev = load(spark, sf_dir, "events")
    first_seen = ev.groupBy("user_id").agg(
        F.date_trunc("day", F.min("ts")).alias("day")
    )
    daily = first_seen.groupBy("day").agg(
        F.count("*").cast("long").alias("n_new")
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return daily.withColumn(
        "cumulative_users", F.sum("n_new").over(w).cast("long")
    )


_DQ3_BIN = 100  # doc-length histogram bin width (chars)

#: ref/cand split by hash PARITY of the source name — not literal
#: source names: the driver corpus renamed its sources between rounds
#: (web/books/news → src0..src19), silently turning a literal IN
#: filter into an empty relation. A hash split covers every doc under
#: any naming and keeps both groups populated.
_DQ3_GRP = (
    "CASE WHEN ((("
    + CE_HASH64_SQL.format(h="md5('dq3|'||source)")
    + ") % 2) + 2) % 2 = 0 THEN 'ref' ELSE 'cand' END"
)


@query(
    "dq3_distribution_drift",
    oracle=f"""
    WITH b AS (
      SELECT {_DQ3_GRP} AS grp,
             CAST(n_chars // {_DQ3_BIN} AS BIGINT) AS bin,
             CAST(count(*) AS BIGINT) AS c
      FROM documents
      GROUP BY 1, 2
    ),
    tot AS (
      SELECT grp, CAST(SUM(c) AS DOUBLE) AS n FROM b GROUP BY grp
    ),
    bins AS (SELECT DISTINCT bin FROM b),
    wide AS (
      SELECT bins.bin,
             CAST(COALESCE(w.c, 0) AS DOUBLE)
               / (SELECT n FROM tot WHERE grp = 'ref') AS p_ref,
             CAST(COALESCE(k.c, 0) AS DOUBLE)
               / (SELECT n FROM tot WHERE grp = 'cand') AS p_cand
      FROM bins
      LEFT JOIN (SELECT bin, c FROM b WHERE grp = 'ref') w USING (bin)
      LEFT JOIN (SELECT bin, c FROM b WHERE grp = 'cand') k USING (bin)
    )
    SELECT bin, round(p_ref, 9) AS p_ref, round(p_cand, 9) AS p_cand,
           round((round(p_cand, 9) - round(p_ref, 9))
                 * (round(p_cand, 9) - round(p_ref, 9))
                 / NULLIF(round(p_ref, 9) + round(p_cand, 9), 0.0), 9)
             AS chi2_term
    FROM wide
    """,
)
def dq3_distribution_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution drift between two halves of the corpus (sources
    split 'ref'/'cand' by name-hash parity — naming-independent, see
    ``_DQ3_GRP``): per-bin share comparison of the doc-length
    histogram plus the symmetric chi-square term
    (p_c − p_r)²/(p_r + p_c) — the ingest-monitoring check that a new
    batch still looks like the corpus. Chi-square is chosen over
    PSI/KL precisely because it needs NO logarithm: every step is
    IEEE mul/div with mirrored parenthesization, so the oracle
    matches bit-for-bit (shares and terms rounded at 9 on both
    sides).

    Shape: one two-key groupBy builds both histograms in a single
    pass; the per-group totals and the bin spine are tiny broadcast
    joins. Bin count is bounded by the length domain, not the corpus."""
    docs = load(spark, sf_dir, "documents")
    grp = F.when(
        F.pmod(
            ce_hash64(F.concat(F.lit("dq3|"), F.col("source"))), F.lit(2)
        )
        == 0,
        F.lit("ref"),
    ).otherwise(F.lit("cand"))
    b = docs.groupBy(
        grp.alias("grp"),
        F.floor(F.col("n_chars") / _DQ3_BIN).cast("long").alias("bin"),
    ).agg(F.count("*").cast("long").alias("c"))
    # One GLOBAL aggregate with conditional sums: always exactly one row
    # (NULL totals when a source has zero rows), so the crossJoin below
    # never multiplies by an empty relation — mirroring the oracle's
    # scalar subqueries, which yield NULL rather than zero rows on a
    # degenerate corpus.
    tot = b.agg(
        F.sum(F.when(F.col("grp") == "ref", F.col("c")))
        .cast("double")
        .alias("n_ref"),
        F.sum(F.when(F.col("grp") == "cand", F.col("c")))
        .cast("double")
        .alias("n_cand"),
    )
    bins = b.select("bin").distinct()
    ref = b.filter(F.col("grp") == "ref").select("bin", F.col("c").alias("cr"))
    cand = b.filter(F.col("grp") == "cand").select(
        "bin", F.col("c").alias("cc")
    )
    p_ref = F.coalesce(F.col("cr"), F.lit(0)).cast("double") / F.col("n_ref")
    p_cand = F.coalesce(F.col("cc"), F.lit(0)).cast("double") / F.col("n_cand")
    diff = F.col("p_cand") - F.col("p_ref")
    return (
        bins.join(ref, "bin", "left_outer")
        .join(cand, "bin", "left_outer")
        .crossJoin(F.broadcast(tot))
        .select(
            "bin",
            F.round(p_ref, 9).alias("p_ref"),
            F.round(p_cand, 9).alias("p_cand"),
        )
        .withColumn(
            "chi2_term",
            F.round(
                diff * diff / F.nullif(F.col("p_ref") + F.col("p_cand"), F.lit(0.0)),
                9,
            ),
        )
    )


# --------------------------------------------------------------------------
# physical-layout and CDC operators
# --------------------------------------------------------------------------

_Z_BITS = 16
_Z_TOP = (1 << _Z_BITS) - 1


def _z_oracle() -> str:
    """DuckDB replay of operators/layout.py's z_value: floor-based
    scaling (DuckDB CAST rounds where Spark's cast truncates, so the
    floor is explicit) and a generated 32-term bit interleave."""

    def scaled(c: str, lo: str, hi: str) -> str:
        return (
            f"CASE WHEN ({hi} - {lo}) > 0 THEN least({_Z_TOP}, "
            f"CAST(floor((CAST({c} AS DOUBLE) - {lo}) / ({hi} - {lo})"
            f" * {_Z_TOP}) AS BIGINT)) ELSE 0 END"
        )

    terms = []
    for i in range(_Z_BITS):
        terms.append(f"(((sa >> {i}) & 1) << {2 * i})")
        terms.append(f"(((sb >> {i}) & 1) << {2 * i + 1})")
    interleave = " | ".join(terms)
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
    )
    SELECT o_orderkey, CAST({interleave} AS BIGINT) AS zval,
           CAST(({interleave}) >> {2 * _Z_BITS - 4} AS BIGINT) AS zbucket
    FROM scl
    """


@query("zorder1_morton_layout", oracle=_z_oracle())
def zorder1_morton_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Z-order (Morton-curve) clustering key of
    ``operators/layout.py:z_value`` as a driver-verified query: scale (o_custkey, o_totalprice) to 16-bit ranks by their
    global bounds (broadcast 1-row aggregate — no sampling pass, no
    global sort) and interleave the bits; zbucket is the top 4 bits =
    the 16 contiguous curve segments a range-partitioned write would
    produce. Contiguous z ranges are small RECTANGLES in both
    dimensions, so every written file carries narrow min/max footers
    on BOTH columns and a reader filtering on either skips most files
    — the public technique behind Delta/Iceberg OPTIMIZE ZORDER.
    Whole plan is one broadcast join + 2*16 shift/mask JVM ops per
    row."""
    from ..operators.layout import z_value

    orders = load(spark, sf_dir, "orders")
    bounds = orders.agg(
        F.min("o_custkey").alias("__amin"),
        F.max("o_custkey").alias("__amax"),
        F.min("o_totalprice").alias("__bmin"),
        F.max("o_totalprice").alias("__bmax"),
    )
    z = z_value(
        F.col("o_custkey"),
        F.col("o_totalprice"),
        F.col("__amin"),
        F.col("__amax"),
        F.col("__bmin"),
        F.col("__bmax"),
        _Z_BITS,
    )
    return (
        orders.join(F.broadcast(bounds))
        .select("o_orderkey", z.alias("zval"))
        .withColumn(
            "zbucket", F.shiftright(F.col("zval"), 2 * _Z_BITS - 4).cast("long")
        )
    )


@query(
    "cdc1_changelog_compact",
    oracle="""
    WITH log AS (
      SELECT l_orderkey AS key,
             l_linenumber * 1000000000000000
               + CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT)
                 * 1000000000
               + CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
               AS seq,
             CASE WHEN ((l_orderkey % 999983) * 2654435761
                        + l_linenumber * 40503) % 17 = 0
                  THEN 'D' ELSE 'U' END AS op,
             l_quantity, l_extendedprice
      FROM lineitem
    ),
    latest AS (
      SELECT key,
             arg_max(op, seq) AS op,
             arg_max(l_quantity, seq) AS quantity,
             arg_max(l_extendedprice, seq) AS price,
             CAST(count(*) AS BIGINT) AS n_versions
      FROM log GROUP BY key
    )
    SELECT key, quantity, price, n_versions
    FROM latest WHERE op <> 'D'
    """,
)
def cdc1_changelog_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Changelog compaction — the Debezium/Delta-CDF consumer
    pattern: a stream of keyed upsert/delete versions collapses to
    final table state by keeping each key's HIGHEST-sequence version
    and dropping keys whose last op is a delete. The changelog is
    synthesized deterministically from lineitem (key = order, seq =
    a total-order composite of (line number, payload) — the corpus
    reuses line numbers, ~1/17 of version events marked as deletes),
    so DuckDB replays the identical log. ONE hash groupBy with
    ``max_by`` (map-side combinable — partial argmax per input
    partition, merged at reduce: state per key is one row, not the
    version history) — the scale-correct form; a row_number window
    would sort every key's history instead.

    Both synthetic derivations are pure BIGINT arithmetic so the hot
    path carries no per-row strings: the version order packs
    (linenumber, cents(quantity), cents(price)) into slots of one
    BIGINT (exact in both engines — the cents come off the
    DECIMAL(18,2) cast, and each slot's range keeps the fields from
    borrowing into each other), and the delete marker is a bounded
    multiplicative mix ``(key mod 999983)·2654435761 + line·40503 mod
    17`` — the mod-prime pre-reduction keeps the product far inside
    BIGINT, which matters cross-engine because DuckDB errors on
    overflow where Spark wraps. The earlier md5-derived marker cost
    one md5 per version row (~0.7s of the sf0.1 bench) to prove
    nothing the integer mix doesn't."""
    li = load(spark, sf_dir, "lineitem")
    op = F.when(
        F.pmod(
            F.pmod(F.col("l_orderkey"), F.lit(999983)) * F.lit(2654435761)
            + F.col("l_linenumber") * F.lit(40503),
            F.lit(17),
        )
        == 0,
        F.lit("D"),
    ).otherwise(F.lit("U"))
    # (key, linenumber) is not unique in the synthetic corpus, so the
    # version order is the total-order composite (linenumber, payload)
    # — deterministic in both engines; rows tying on the FULL key are
    # indistinguishable, so either choice is the same row.
    qty_c = (F.col("l_quantity").cast("decimal(18,2)") * 100).cast("long")
    price_c = (F.col("l_extendedprice").cast("decimal(18,2)") * 100).cast("long")
    seq = (
        F.col("l_linenumber") * F.lit(1_000_000_000_000_000)
        + qty_c * F.lit(1_000_000_000)
        + price_c
    )
    log = li.select(
        F.col("l_orderkey").alias("key"),
        seq.alias("seq"),
        op.alias("op"),
        "l_quantity",
        "l_extendedprice",
    )
    return (
        log.groupBy("key")
        .agg(
            F.max_by("op", "seq").alias("op"),
            F.max_by("l_quantity", "seq").alias("quantity"),
            F.max_by("l_extendedprice", "seq").alias("price"),
            F.count("*").alias("n_versions"),
        )
        .filter(F.col("op") != "D")
        .select("key", "quantity", "price", "n_versions")
    )


@query(
    "ts3_linear_interpolate",
    oracle="""
    WITH ev AS (
      SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour_ts,
             event_type, value
      FROM events
    ),
    hourly AS (
      SELECT event_type, hour_ts,
             CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS v
      FROM ev GROUP BY 1, 2
    ),
    bounds AS (SELECT min(hour_ts) AS lo, max(hour_ts) AS hi FROM ev),
    calendar AS (
      SELECT t.hour_ts FROM bounds,
             UNNEST(generate_series(lo, hi, INTERVAL 1 HOUR)) AS t(hour_ts)
    ),
    types AS (SELECT DISTINCT event_type FROM ev),
    spine AS (
      SELECT ty.event_type, c.hour_ts, h.v
      FROM calendar c CROSS JOIN types ty
      LEFT JOIN hourly h USING (event_type, hour_ts)
    ),
    aug AS (
      SELECT event_type, hour_ts, v,
             last_value(v IGNORE NULLS) OVER wp AS pv,
             last_value(CASE WHEN v IS NOT NULL THEN hour_ts END IGNORE NULLS)
               OVER wp AS pt,
             first_value(v IGNORE NULLS) OVER wn AS nv,
             first_value(CASE WHEN v IS NOT NULL THEN hour_ts END IGNORE NULLS)
               OVER wn AS nt
      FROM spine
      WINDOW wp AS (PARTITION BY event_type ORDER BY hour_ts
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
             wn AS (PARTITION BY event_type ORDER BY hour_ts
                    ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
    )
    SELECT event_type, hour_ts,
           CASE WHEN v IS NOT NULL THEN v
                WHEN pv IS NOT NULL AND nv IS NOT NULL THEN
                  round(pv + (nv - pv)
                        * (CAST(date_diff('hour', pt, hour_ts) AS DOUBLE)
                           / CAST(date_diff('hour', pt, nt) AS DOUBLE)), 9)
                ELSE NULL END AS hourly_value,
           v IS NULL AND pv IS NOT NULL AND nv IS NOT NULL AS interpolated
    FROM aug
    """,
)
def ts3_linear_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap filling by LINEAR INTERPOLATION (ts1 fills with zeros —
    right for counts, wrong for level metrics like sensor readings or
    hourly revenue): missing hours get
    prev + (next − prev) · Δt/span, leading/trailing gaps stay NULL
    and are flagged. The neighbor scan is two IGNORE-NULLS window
    passes over the dense spine (last non-null value/timestamp
    backward, first forward) — one shuffle on the type key, state
    O(1) per row, no self-join against the sparse actuals. The time
    fraction uses integer hour differences (exact in both engines);
    sums are decimal-exact before the one rounded float expression,
    parenthesized identically in the oracle."""
    ev = load(spark, sf_dir, "events").select(
        F.date_trunc("hour", "ts").alias("hour_ts"), "event_type", "value"
    )
    hourly = ev.groupBy("event_type", "hour_ts").agg(
        F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("v")
    )
    bounds = ev.agg(F.min("hour_ts").alias("lo"), F.max("hour_ts").alias("hi"))
    calendar = bounds.select(
        F.explode(
            F.sequence(F.col("lo"), F.col("hi"), F.expr("INTERVAL 1 HOUR"))
        ).alias("hour_ts")
    )
    types = ev.select("event_type").distinct()
    spine = calendar.join(F.broadcast(types)).join(
        hourly, ["event_type", "hour_ts"], "left_outer"
    )
    base = Window.partitionBy("event_type").orderBy("hour_ts")
    wp = base.rowsBetween(Window.unboundedPreceding, -1)
    wn = base.rowsBetween(1, Window.unboundedFollowing)
    present_ts = F.when(F.col("v").isNotNull(), F.col("hour_ts"))
    aug = spine.select(
        "event_type",
        "hour_ts",
        "v",
        F.last("v", ignorenulls=True).over(wp).alias("pv"),
        F.last(present_ts, ignorenulls=True).over(wp).alias("pt"),
        F.first("v", ignorenulls=True).over(wn).alias("nv"),
        F.first(present_ts, ignorenulls=True).over(wn).alias("nt"),
    )
    frac = F.expr("timestampdiff(HOUR, pt, hour_ts)").cast("double") / F.expr(
        "timestampdiff(HOUR, pt, nt)"
    ).cast("double")
    interp = F.round(
        F.col("pv") + (F.col("nv") - F.col("pv")) * frac, 9
    )
    return aug.select(
        "event_type",
        "hour_ts",
        F.when(F.col("v").isNotNull(), F.col("v"))
        .when(F.col("pv").isNotNull() & F.col("nv").isNotNull(), interp)
        .alias("hourly_value"),
        (
            F.col("v").isNull()
            & F.col("pv").isNotNull()
            & F.col("nv").isNotNull()
        ).alias("interpolated"),
    )


# --------------------------------------------------------------------------
# product quantization (PQ) codes
# --------------------------------------------------------------------------

_PQ_M = 4  # subspaces
_PQ_DIM = 16  # dims per subspace (embeddings are 64-d)
_PQ_K = 8  # centroids per subspace

#: decimal-summed squared-L2 between positionally co-unnested x/y pairs
_L2SQ_SQL = (
    "CAST(SUM(CAST((CAST(x AS DOUBLE) - CAST(y AS DOUBLE))"
    " * (CAST(x AS DOUBLE) - CAST(y AS DOUBLE)) AS DECIMAL(28,14)))"
    " AS DOUBLE)"
)


def _pq_oracle() -> str:
    parts = []
    for m in range(_PQ_M):
        lo, hi = m * _PQ_DIM + 1, (m + 1) * _PQ_DIM
        ce_b = CE_HASH64_SQL.format(
            h=f"md5('pq{m}|' || CAST(vec_id AS VARCHAR))"
        )
        ce_s = CE_HASH64_SQL.format(
            h=f"md5('pqs{m}|' || CAST(vec_id AS VARCHAR))"
        )
        parts.append(f"""
    cid{m} AS (
      SELECT min_by(vec_id, {ce_s}) AS vec_id
      FROM embeddings
      GROUP BY (({ce_b}) % {_PQ_K} + {_PQ_K}) % {_PQ_K}
    ),
    cent{m} AS (
      SELECT e.vec_id AS centroid_id, e.embedding[{lo}:{hi}] AS cvec
      FROM embeddings e JOIN cid{m} USING (vec_id)
    ),
    pairs{m} AS (
      SELECT e.vec_id, c.centroid_id,
             unnest(e.embedding[{lo}:{hi}]) AS x, unnest(c.cvec) AS y
      FROM embeddings e, cent{m} c
    ),
    dist{m} AS (
      SELECT vec_id, centroid_id,
             CAST(round(round({_L2SQ_SQL}, 6) * 1000000) AS BIGINT) AS kd
      FROM pairs{m} GROUP BY vec_id, centroid_id
    ),
    code{m} AS (
      SELECT vec_id, {m} AS sub_id,
             arg_min(centroid_id, kd * 4294967296 + centroid_id) AS code,
             CAST(min(kd * 4294967296 + centroid_id) // 4294967296
                  AS DOUBLE) / 1000000 AS dist
      FROM dist{m} GROUP BY vec_id
    )""")
    union = "\n    UNION ALL\n    ".join(
        f"SELECT vec_id, CAST(sub_id AS INTEGER) AS sub_id, code, dist"
        f" FROM code{m}"
        for m in range(_PQ_M)
    )
    return "WITH " + ",".join(parts) + "\n    " + union


@query("pq1_product_quantize", oracle=_pq_oracle())
def pq1_product_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization encoding — the memory side of
    billion-scale ANN (IVF-PQ): each 64-d vector becomes 4 codebook
    ids (one per 16-d subspace), compressing 256 float bytes to 4
    small ints while distances stay approximable from tiny per-
    subspace lookup tables. Codebooks here are hash-picked corpus
    subvectors (the sim_ivfm centroid-selection family — k-means
    would iterate the same assignment), so the WHOLE encode replays
    bit-for-bit in DuckDB: squared-L2 is the decimal-summed exact
    form, and the argmin key is (round(d·1e6), centroid_id) — Spark
    compares the pair as a struct via array_min, the oracle as the
    collision-free integer encoding.

    Scale shape: 4 × 8 centroid subvectors live in ONE collected row
    broadcast onto the corpus; encoding is a per-row transform over
    that array — zero shuffle, zero fanout, linear scan cost, exactly
    how a 100 TB corpus gets PQ-encoded before the codes are written
    back partitioned by IVF cluster."""
    from ..functions.dedup import ce_hash64
    from ..functions.similarity import dot_decimal

    emb = load_spread(spark, sf_dir, "embeddings")
    vid = F.col("vec_id").cast("string")
    out = None
    for m in range(_PQ_M):
        lo = m * _PQ_DIM + 1
        sub = F.slice(F.col("embedding"), lo, _PQ_DIM)
        cids = (
            emb.select("vec_id")
            .groupBy(
                F.pmod(
                    ce_hash64(F.concat(F.lit(f"pq{m}|"), vid)), F.lit(_PQ_K)
                ).alias("__b")
            )
            .agg(
                F.min_by(
                    "vec_id", ce_hash64(F.concat(F.lit(f"pqs{m}|"), vid))
                ).alias("vec_id")
            )
            .select("vec_id")
        )
        cents = (
            emb.join(F.broadcast(cids), "vec_id")
            .select(
                F.col("vec_id").alias("centroid_id"), sub.alias("cvec")
            )
            .agg(
                F.collect_list(F.struct("centroid_id", "cvec")).alias("__c")
            )
        )
        diff = lambda c: F.zip_with(
            sub, c["cvec"], lambda x, y: x.cast("double") - y.cast("double")
        )
        # BIGINT fold of the 10^14-scaled quantized squares — the
        # dot_decimal implementation pattern (value-identical; see
        # functions/similarity.py for the rounding argument)
        l2sq = lambda c: (
            F.aggregate(
                F.transform(
                    diff(c),
                    lambda d: ((d * d).cast("decimal(28,14)") * F.lit(10**14)).cast(
                        "long"
                    ),
                ),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            ).cast("decimal(24,0)")
            / F.lit(10**14).cast("decimal(15,0)")
        ).cast("double")
        best = F.array_min(
            F.transform(
                F.col("__c"),
                lambda c: F.struct(
                    F.round(F.round(l2sq(c), 6) * 1000000)
                    .cast("long")
                    .alias("kd"),
                    c["centroid_id"].alias("centroid_id"),
                ),
            )
        )
        enc = emb.join(F.broadcast(cents)).select(
            "vec_id",
            F.lit(m).cast("int").alias("sub_id"),
            best["centroid_id"].alias("code"),
            (best["kd"].cast("double") / 1000000).alias("dist"),
        )
        out = enc if out is None else out.unionByName(enc)
    return out


# --------------------------------------------------------------------------
# cross-replica verification: table checksum and snapshot diff
# --------------------------------------------------------------------------

_DQ4_ROW = (
    "md5(COALESCE(CAST(o_orderkey AS VARCHAR), '<NULL>')"
    " || '|' || COALESCE(CAST(o_custkey AS VARCHAR), '<NULL>')"
    " || '|' || COALESCE(o_orderstatus, '<NULL>') || '|'"
    " || COALESCE(CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR), '<NULL>')"
    " || '|' || COALESCE(CAST(CAST(o_orderdate AS TIMESTAMP) AS VARCHAR), '<NULL>')"
    " || '|' || COALESCE(o_orderpriority, '<NULL>'))"
)
_DQ4_CE = CE_HASH64_SQL.format(h=_DQ4_ROW)


@query(
    "dq4_table_checksum",
    oracle=f"""
    SELECT CAST(((o_orderkey % 16) + 16) % 16 AS BIGINT) AS bucket,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(SUM((({_DQ4_CE}) % 1000000000 + 1000000000) % 1000000000)
                AS BIGINT) AS checksum
    FROM orders
    GROUP BY 1
    """,
)
def dq4_table_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-independent table checksum, bucketed by key — the
    cross-replica / cross-engine verification primitive: two copies of
    a 100 TB table are equal iff 16 (bucket, n_rows, checksum) rows
    match, and a mismatch localizes to a bucket before any row-level
    diff (dq5) runs. The checksum is a SUM of per-row canonical-string
    hashes: commutative, so partitioning/scan order cannot change it,
    and map-side combinable — the whole audit is one narrow groupBy.
    Doubles and timestamps are canonicalized (DECIMAL(18,2) /
    second-precision strings) so both engines hash identical bytes;
    hashes are folded mod 1e9 to keep 10^12-row sums inside BIGINT."""
    o = load(spark, sf_dir, "orders")
    # every field COALESCEd to an explicit '<NULL>' sentinel: without
    # it a NULL field null-skips in concat_ws here but null-poisons
    # the || chain in the oracle — and an audit checksum that goes
    # NULL (or silently drops a field) on a NULL cell cannot certify
    # replica equality. Sentinel never fires on a NULL-free corpus,
    # so existing checksums are unchanged.
    nul = F.lit("<NULL>")
    row = F.md5(
        F.concat_ws(
            "|",
            F.coalesce(F.col("o_orderkey").cast("string"), nul),
            F.coalesce(F.col("o_custkey").cast("string"), nul),
            F.coalesce(F.col("o_orderstatus"), nul),
            F.coalesce(F.col("o_totalprice").cast("decimal(18,2)").cast("string"), nul),
            F.coalesce(F.col("o_orderdate").cast("timestamp").cast("string"), nul),
            F.coalesce(F.col("o_orderpriority"), nul),
        )
    )
    from ..functions.dedup import hex16_to_long

    h = F.pmod(hex16_to_long(row, 1), F.lit(1_000_000_000))
    return (
        o.groupBy(F.pmod(F.col("o_orderkey"), F.lit(16)).alias("bucket"))
        .agg(
            F.count("*").alias("n_rows"),
            F.sum(h).cast("long").alias("checksum"),
        )
    )


_DQ5_CE = CE_HASH64_SQL.format(h="md5('snap|' || CAST(o_orderkey AS VARCHAR))")


@query(
    "dq5_snapshot_diff",
    oracle=f"""
    WITH mut AS (
      SELECT o_orderkey,
             CASE WHEN ((({_DQ5_CE}) % 20) + 20) % 20 = 0 THEN NULL
                  WHEN ((({_DQ5_CE}) % 20) + 20) % 20 = 1
                    THEN CAST(CAST(o_totalprice AS DECIMAL(18,2))
                              + CAST(1 AS DECIMAL(18,2)) AS DECIMAL(18,2))
                  ELSE CAST(o_totalprice AS DECIMAL(18,2)) END AS price
      FROM orders
    ),
    snap AS (
      SELECT * FROM mut
      UNION ALL
      SELECT o_orderkey + 1000000000 AS o_orderkey,
             CAST(o_totalprice AS DECIMAL(18,2)) AS price
      FROM orders
      WHERE ((({_DQ5_CE}) % 20) + 20) % 20 = 2
    ),
    diff AS (
      SELECT a.o_orderkey AS a_key, s.o_orderkey AS b_key,
             CAST(a.o_totalprice AS DECIMAL(18,2)) AS a_price, s.price AS b_price
      FROM orders a FULL OUTER JOIN
           (SELECT * FROM snap WHERE price IS NOT NULL) s
           ON a.o_orderkey = s.o_orderkey
    )
    SELECT CASE WHEN b_key IS NULL THEN 'removed'
                WHEN a_key IS NULL THEN 'added'
                WHEN a_price <> b_price THEN 'changed'
                ELSE 'unchanged' END AS change,
           CAST(count(*) AS BIGINT) AS n_rows
    FROM diff GROUP BY 1
    """,
)
def dq5_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff — the row-level reconciliation that runs inside a
    bucket dq4 flagged: FULL OUTER join of two table versions on the
    key, classifying every row added / removed / changed / unchanged.
    The second snapshot is synthesized deterministically (1/20 of keys
    hash-marked deleted, 1/20 price-bumped, 1/20 cloned under fresh
    keys so every diff class is populated), so DuckDB replays the
    identical pair of tables. One co-partitioned shuffle join on the
    key — at 100 TB both sides bucket-prune to the flagged bucket
    first, which is why dq4's bucketing exists. Comparison columns are
    DECIMAL so 'changed' is exact, never a float-epsilon judgment."""
    o = load(spark, sf_dir, "orders")
    mod = F.pmod(
        ce_hash64(F.concat(F.lit("snap|"), F.col("o_orderkey").cast("string"))),
        F.lit(20),
    )
    price = F.col("o_totalprice").cast("decimal(18,2)")
    mut = o.select(
        "o_orderkey",
        F.when(mod == 0, F.lit(None).cast("decimal(18,2)"))
        .when(mod == 1, (price + F.lit(1).cast("decimal(18,2)")).cast("decimal(18,2)"))
        .otherwise(price)
        .alias("price"),
    ).filter(F.col("price").isNotNull())
    added = o.filter(mod == 2).select(
        (F.col("o_orderkey") + 1_000_000_000).alias("o_orderkey"),
        price.alias("price"),
    )
    snap = mut.unionAll(added)
    a = o.select(F.col("o_orderkey").alias("a_key"), price.alias("a_price"))
    b = snap.select(F.col("o_orderkey").alias("b_key"), F.col("price").alias("b_price"))
    diff = a.join(b, a.a_key == b.b_key, "full_outer")
    change = (
        F.when(F.col("b_key").isNull(), F.lit("removed"))
        .when(F.col("a_key").isNull(), F.lit("added"))
        .when(F.col("a_price") != F.col("b_price"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    return diff.groupBy(change.alias("change")).agg(
        F.count("*").alias("n_rows")
    )


@query(
    "w7_topk_with_ties",
    oracle="""
    SELECT c_nationkey, c_custkey, c_acctbal, CAST(rnk AS INTEGER) AS rnk
    FROM (
      SELECT c_nationkey, c_custkey, c_acctbal,
             rank() OVER (PARTITION BY c_nationkey
                          ORDER BY c_acctbal DESC) AS rnk
      FROM customer
    ) r WHERE rnk <= 3
    """,
)
def w7_topk_with_ties(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k per group WITH TIES — the rank() variant of w1's
    row_number() top-k: two customers sharing the 3rd-highest balance
    are BOTH kept, so the operator returns 'every row whose value is
    among the k largest values', not 'k arbitrary rows'. The
    semantics SQL:2008 spells FETCH FIRST k ROWS WITH TIES, and the
    form dedup/report pipelines need when truncating at a value
    boundary would be arbitrary. Same single hash-partitioned sort
    shuffle as w1 (rank is one extra comparison over row_number);
    filter applies streaming within each partition, nothing global."""
    from pyspark.sql.window import Window as W

    w = W.partitionBy("c_nationkey").orderBy(F.col("c_acctbal").desc())
    return (
        load(spark, sf_dir, "customer")
        .select(
            "c_nationkey",
            "c_custkey",
            "c_acctbal",
            F.rank().over(w).cast("int").alias("rnk"),
        )
        .filter(F.col("rnk") <= 3)
    )


@query(
    "an2_mad_outliers",
    oracle="""
    WITH med AS (
      SELECT event_type,
             round(CAST(quantile_cont(value, 0.5) AS DOUBLE), 6) AS med
      FROM events GROUP BY 1
    ),
    d AS (
      SELECT e.event_type, m.med,
             round(abs(e.value - m.med), 6) AS dev
      FROM events e JOIN med m USING (event_type)
    ),
    mad AS (
      SELECT event_type,
             round(CAST(quantile_cont(dev, 0.5) AS DOUBLE), 6) AS mad
      FROM d GROUP BY 1
    )
    SELECT d.event_type, m.med, ma.mad,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN d.dev > 3 * ma.mad THEN 1 ELSE 0 END)
                AS BIGINT) AS n_outliers
    FROM d JOIN mad ma USING (event_type) JOIN med m USING (event_type)
    GROUP BY d.event_type, m.med, ma.mad
    """,
)
def an2_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier detection by median absolute deviation — an1's
    z-score flags drown when the outliers themselves inflate the
    mean/std; median and MAD have a 50% breakdown point, so the
    threshold survives heavy contamination. Two exact-percentile
    passes (median of value, then median of |value − med|), each a
    per-group aggregate joined back broadcast; medians and deviations
    are rounded at 6 before any comparison, so the > threshold test
    cannot flip on a last-ulp interpolation difference between
    engines. Exact percentile holds one group's values in memory —
    right for a bounded type dimension; a high-cardinality group key
    switches to approx_percentile (g6's documented trade)."""
    ev = load(spark, sf_dir, "events").select("event_type", "value")
    med = ev.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.5)"), 6).alias("med")
    )
    d = ev.join(F.broadcast(med), "event_type").select(
        "event_type",
        "med",
        F.round(F.abs(F.col("value") - F.col("med")), 6).alias("dev"),
    )
    mad = d.groupBy("event_type").agg(
        F.round(F.expr("percentile(dev, 0.5)"), 6).alias("mad")
    )
    return (
        d.join(F.broadcast(mad), "event_type")
        .groupBy("event_type", "med", "mad")
        .agg(
            F.count("*").alias("n_rows"),
            F.sum(
                F.when(F.col("dev") > 3 * F.col("mad"), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_outliers"),
        )
    )


_SKY_W = 1000  # skyline bucket width in price cents ($10 bands)


@query(
    "sky1_pareto_frontier",
    oracle="""
    WITH p AS (
      SELECT p_partkey, p_retailprice, p_size,
             CAST(round(p_retailprice * 100) AS BIGINT) AS pc
      FROM part
    ),
    w AS (
      SELECT p_partkey, p_retailprice, p_size,
             max(p_size) OVER (ORDER BY pc
               RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prevmax,
             max(p_size) OVER (PARTITION BY pc) AS samemax
      FROM p
    )
    SELECT p_partkey, p_retailprice, CAST(p_size AS INTEGER) AS p_size
    FROM w
    WHERE COALESCE(prevmax, -1) < p_size AND samemax = p_size
    """,
)
def sky1_pareto_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D skyline / Pareto frontier: parts not dominated on
    (price low, size high) — a row is dominated iff some other part
    is no more expensive AND no smaller, strictly better on one axis.
    The classic price-performance shortlist operator.

    Scale shape: the textbook sort-scan (running max over a GLOBAL
    price order) would be a single-partition window, so this runs the
    TWO-PHASE distributed form instead — fixed-width price bands give
    a partitioned within-band running max (strict-less via integer
    RANGE frame on cents), a per-band max table (rows = band count,
    bounded by the price domain, not the corpus) provides the
    cross-band prefix, and dominance is the greatest of the two. The
    oracle uses the simple global-window formulation — identical
    result, which is exactly the point: the distributed decomposition
    is provably equivalent. Duplicate (price, size) points are
    mutually non-dominating and all kept."""
    p = load(spark, sf_dir, "part").select(
        "p_partkey",
        "p_retailprice",
        "p_size",
        F.round(F.col("p_retailprice") * 100).cast("long").alias("pc"),
    ).withColumn("band", F.expr(f"pc div {_SKY_W}"))
    in_band = (
        Window.partitionBy("band")
        .orderBy("pc")
        .rangeBetween(Window.unboundedPreceding, -1)
    )
    band_max = p.groupBy("band").agg(F.max("p_size").alias("bmax"))
    prefix = band_max.select(
        "band",
        F.max("bmax")
        .over(
            Window.orderBy("band").rowsBetween(Window.unboundedPreceding, -1)
        )
        .alias("prev_band_max"),
    )
    same_pc = Window.partitionBy("pc")
    return (
        p.join(F.broadcast(prefix), "band")
        .select(
            "p_partkey",
            "p_retailprice",
            "p_size",
            F.greatest(
                F.coalesce(F.col("prev_band_max"), F.lit(-1)),
                F.coalesce(F.max("p_size").over(in_band), F.lit(-1)),
            ).alias("dommax"),
            F.max("p_size").over(same_pc).alias("samemax"),
        )
        .filter(
            (F.col("dommax") < F.col("p_size"))
            & (F.col("samemax") == F.col("p_size"))
        )
        .select("p_partkey", "p_retailprice", F.col("p_size").cast("int"))
    )


@query(
    "pit1_point_in_time_join",
    oracle="""
    WITH changed AS (
      SELECT DISTINCT c_custkey, c_acctbal,
             (c_custkey % 7 <> 0 AND c_custkey % 2 = 0
              AND c_acctbal <> c_acctbal * 2) AS chg
      FROM customer
    ),
    hist AS (
      SELECT c_custkey, c_acctbal,
             TIMESTAMP '1996-01-01 00:00:00' AS valid_from,
             CASE WHEN chg THEN TIMESTAMP '1998-07-01 00:00:00' END AS valid_to
      FROM changed
      UNION ALL
      SELECT c_custkey, c_acctbal * 2,
             TIMESTAMP '1998-07-01 00:00:00', NULL
      FROM changed WHERE chg
    )
    SELECT o_orderkey, o_custkey, o_orderdate,
           h.c_acctbal AS balance_at_order
    FROM orders o
    JOIN hist h ON o.o_custkey = h.c_custkey
               AND o.o_orderdate >= h.valid_from
               AND (h.valid_to IS NULL OR o.o_orderdate < h.valid_to)
    """,
)
def pit1_point_in_time_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time join — the feature-store correctness operator: each
    order is enriched with the customer balance AS OF the order date,
    never a later version (the leakage a plain dim join commits when
    the dim has since changed). The dimension is a real SCD2 history
    built by operators/scd2.py (two snapshots: balances doubled for
    even keys at t2, keys %7 absent from snapshot 2 and staying
    current from t1); the join is equi on the key with the validity
    window as a residual range predicate — ONE co-partitioned shuffle,
    never a cross product, and orders predating the history simply
    find no version (inner join). The oracle reconstructs the history
    with set logic and replays the identical join. Snapshots are
    DEDUPLICATED at ingest (distinct on the full snapshot row, both
    sides): SCD2 requires a unique business key, and a malformed feed
    that repeats a customer row would otherwise fan out the upsert's
    key join (2 old x 2 new = 4 versions) — the dedup pins the
    duplicate-key behavior both engines agree on, and is a no-op on a
    healthy dimension."""
    from datetime import datetime

    from ..operators.scd2 import scd2_init, scd2_upsert

    t1, t2 = datetime(1996, 1, 1), datetime(1998, 7, 1)
    snap1 = (
        load(spark, sf_dir, "customer")
        .select("c_custkey", "c_acctbal")
        .distinct()
    )
    snap2 = snap1.filter(F.col("c_custkey") % 7 != 0).select(
        "c_custkey",
        F.when(F.col("c_custkey") % 2 == 0, F.col("c_acctbal") * 2)
        .otherwise(F.col("c_acctbal"))
        .alias("c_acctbal"),
    )
    hist = scd2_upsert(
        scd2_init(snap1, t1),
        snap2,
        keys=["c_custkey"],
        tracked_cols=["c_acctbal"],
        effective_ts=t2,
    )
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate"
    )
    return o.join(
        hist,
        (o.o_custkey == hist.c_custkey)
        & (o.o_orderdate >= hist.valid_from)
        & (hist.valid_to.isNull() | (o.o_orderdate < hist.valid_to)),
    ).select(
        "o_orderkey",
        "o_custkey",
        "o_orderdate",
        F.col("c_acctbal").alias("balance_at_order"),
    )


@query(
    "markov1_event_transitions",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type,
             lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev_type
      FROM events
    )
    SELECT prev_type, event_type AS next_type,
           CAST(count(*) AS BIGINT) AS n_transitions
    FROM seq WHERE prev_type IS NOT NULL
    GROUP BY prev_type, event_type
    """,
)
def markov1_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order event-sequence mining: the per-user transition
    matrix (prev event type → next event type) behind funnel
    diagnosis, next-action models, and bot detection (a user whose
    transition distribution is near-deterministic is a script). One
    lag() window per user ordered by (ts, event_id) — the unique id
    tiebreak makes same-timestamp ordering deterministic in both
    engines — then a hash groupBy over the bounded type×type matrix.
    Per-user state is one row; the matrix is domain-bounded, so the
    reduce side is tiny at any corpus scale."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = load(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        F.lag("event_type").over(w).alias("prev_type"),
    )
    return (
        seq.filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count("*").alias("n_transitions"))
    )


@query(
    "qb1_quantile_binning",
    oracle="""
    WITH b AS (
      SELECT round(CAST(quantile_cont(o_totalprice, 0.25) AS DOUBLE), 6) AS q1,
             round(CAST(quantile_cont(o_totalprice, 0.50) AS DOUBLE), 6) AS q2,
             round(CAST(quantile_cont(o_totalprice, 0.75) AS DOUBLE), 6) AS q3
      FROM orders
    )
    SELECT o_orderkey,
           CAST(CASE WHEN o_totalprice <= q1 THEN 0
                     WHEN o_totalprice <= q2 THEN 1
                     WHEN o_totalprice <= q3 THEN 2
                     ELSE 3 END AS INTEGER) AS price_bin,
           q1, q2, q3
    FROM orders, b
    """,
)
def qb1_quantile_binning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth (quantile) binning — the ML feature-prep
    discretizer: exact quartile boundaries from ONE aggregate pass,
    then a zero-shuffle per-row CASE against the broadcast 1-row
    boundary table. No global sort, no ntile single-partition window —
    the boundaries carry all the global information a rank would, at
    aggregate cost. Boundaries are rounded at 6 before comparison so
    the bin edges can't flip on a last-ulp interpolation difference;
    rows exactly ON a boundary go to the lower bin in both engines.
    Exact percentile holds the column in memory per group (one global
    group here — fine at this dimension); the 100 TB path swaps in
    approx_percentile with documented error, same plan shape."""
    o = load(spark, sf_dir, "orders")
    b = o.agg(
        F.round(F.expr("percentile(o_totalprice, 0.25)"), 6).alias("q1"),
        F.round(F.expr("percentile(o_totalprice, 0.50)"), 6).alias("q2"),
        F.round(F.expr("percentile(o_totalprice, 0.75)"), 6).alias("q3"),
    )
    bin_ = (
        F.when(F.col("o_totalprice") <= F.col("q1"), 0)
        .when(F.col("o_totalprice") <= F.col("q2"), 1)
        .when(F.col("o_totalprice") <= F.col("q3"), 2)
        .otherwise(3)
    )
    return o.join(F.broadcast(b)).select(
        "o_orderkey",
        bin_.cast("int").alias("price_bin"),
        "q1",
        "q2",
        "q3",
    )


_EMB4_K = 50
_EMB4_DIM = 16  # truncation prefix (of 64)

_EMB4_COS = (
    "round(CAST(SUM(CAST(CAST(x AS DOUBLE) * CAST(y AS DOUBLE)"
    " AS DECIMAL(28,14))) AS DOUBLE)"
    " / (sqrt(CAST(SUM(CAST(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)"
    " AS DECIMAL(28,14))) AS DOUBLE))"
    " * sqrt(CAST(SUM(CAST(CAST(y AS DOUBLE) * CAST(y AS DOUBLE)"
    " AS DECIMAL(28,14))) AS DOUBLE))), 6)"
)

#: zero-norm guard (either side) — the Spark brute_force_topk excludes
#: NULL-scored rows, so the oracle must exclude the same vectors
_EMB4_GUARD = (
    "SUM(CAST(CAST(x AS DOUBLE) * CAST(x AS DOUBLE) AS DECIMAL(28,14))) > 0"
    " AND SUM(CAST(CAST(y AS DOUBLE) * CAST(y AS DOUBLE) AS DECIMAL(28,14))) > 0"
)


@query(
    "emb4_matryoshka_recall",
    oracle=f"""
    WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
    tp AS (
      SELECT e.vec_id, unnest(e.embedding[1:{_EMB4_DIM}]) AS x,
             unnest(q.qv[1:{_EMB4_DIM}]) AS y
      FROM embeddings e, q WHERE e.vec_id <> 0
    ),
    tsim AS (SELECT vec_id, {_EMB4_COS} AS trunc_sim FROM tp GROUP BY vec_id
             HAVING {_EMB4_GUARD}),
    ttop AS (SELECT vec_id, trunc_sim FROM tsim
             ORDER BY trunc_sim DESC, vec_id LIMIT {_EMB4_K}),
    fp AS (
      SELECT e.vec_id, unnest(e.embedding) AS x, unnest(q.qv) AS y
      FROM embeddings e, q WHERE e.vec_id <> 0
    ),
    fsim AS (SELECT vec_id, {_EMB4_COS} AS full_sim FROM fp GROUP BY vec_id
             HAVING {_EMB4_GUARD}),
    ftop AS (SELECT vec_id FROM fsim
             ORDER BY full_sim DESC, vec_id LIMIT {_EMB4_K})
    SELECT t.vec_id, t.trunc_sim,
           f.vec_id IS NOT NULL AS in_full_topk
    FROM ttop t LEFT JOIN ftop f USING (vec_id)
    """,
)
def emb4_matryoshka_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-style dimension truncation audit: retrieve top-k by
    the FIRST 16 of 64 dims (4× cheaper dot products, the
    coarse-to-fine trick MRL-trained embeddings are built for) and
    flag which of those the full-dimension exact top-k would also
    return — the recall evidence that decides whether the truncated
    index is usable as a first-stage filter. Both rankings are exact
    decimal-summed cosines with (sim, vec_id) total order, so the two
    frontiers and their overlap replay bit-for-bit in DuckDB. Plan:
    two zero-shuffle scans (slice is a narrow projection) each ending
    in TakeOrdered, then one k-row broadcast join — the corpus never
    shuffles."""
    from ..functions.similarity import brute_force_topk

    full = load_spread(spark, sf_dir, "embeddings")
    emb = full.filter(F.col("vec_id") != 0)
    qv = full.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qv")
    )
    trunc = emb.select(
        "vec_id", F.slice("embedding", 1, _EMB4_DIM).alias("embedding")
    )
    tq = qv.select(F.slice("qv", 1, _EMB4_DIM).alias("qv"))
    ttop = brute_force_topk(trunc, tq, k=_EMB4_K).select(
        "vec_id", F.col("cosine_sim").alias("trunc_sim")
    )
    ftop = brute_force_topk(emb, qv, k=_EMB4_K).select(
        F.col("vec_id").alias("__fid")
    )
    return ttop.join(
        F.broadcast(ftop), ttop.vec_id == F.col("__fid"), "left_outer"
    ).select(
        "vec_id",
        "trunc_sim",
        F.col("__fid").isNotNull().alias("in_full_topk"),
    )


@query(
    "seg1_rfm_segments",
    oracle="""
    WITH per AS (
      SELECT o_custkey,
             date_diff('day', CAST(max(o_orderdate) AS DATE),
                       DATE '2002-01-01') AS r_days,
             CAST(count(*) AS BIGINT) AS f_orders,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               AS m_total
      FROM orders GROUP BY o_custkey
    ),
    b AS (
      SELECT round(CAST(quantile_cont(r_days, 0.33) AS DOUBLE), 6) AS r1,
             round(CAST(quantile_cont(r_days, 0.67) AS DOUBLE), 6) AS r2,
             round(CAST(quantile_cont(f_orders, 0.33) AS DOUBLE), 6) AS f1,
             round(CAST(quantile_cont(f_orders, 0.67) AS DOUBLE), 6) AS f2,
             round(CAST(quantile_cont(m_total, 0.33) AS DOUBLE), 6) AS m1,
             round(CAST(quantile_cont(m_total, 0.67) AS DOUBLE), 6) AS m2
      FROM per
    )
    SELECT o_custkey, r_days, f_orders, m_total,
           CAST(3 - (r_days > r1)::INT - (r_days > r2)::INT AS INTEGER)
             AS r_score,
           CAST(1 + (f_orders > f1)::INT + (f_orders > f2)::INT AS INTEGER)
             AS f_score,
           CAST(1 + (m_total > m1)::INT + (m_total > m2)::INT AS INTEGER)
             AS m_score
    FROM per, b
    """,
)
def seg1_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation — recency / frequency / monetary scoring, the
    canonical customer-value analysis: one groupBy builds the three
    per-customer facts (recency as integer days to a fixed anchor —
    exact in both engines; monetary decimal-summed), one 1-row
    aggregate finds tercile boundaries for each dimension, and scoring
    is a zero-shuffle CASE against the broadcast boundary row (recency
    scored inversely: recent = high). Boundaries rounded at 6 before
    comparison — same edge discipline as qb1. Two aggregate passes +
    one narrow projection at any corpus scale."""
    o = load(spark, sf_dir, "orders")
    per = o.groupBy("o_custkey").agg(
        F.datediff(
            F.lit("2002-01-01").cast("date"),
            F.max("o_orderdate").cast("date"),
        ).alias("r_days"),
        F.count("*").alias("f_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("m_total"),
    )
    b = per.agg(
        F.round(F.expr("percentile(r_days, 0.33)"), 6).alias("r1"),
        F.round(F.expr("percentile(r_days, 0.67)"), 6).alias("r2"),
        F.round(F.expr("percentile(f_orders, 0.33)"), 6).alias("f1"),
        F.round(F.expr("percentile(f_orders, 0.67)"), 6).alias("f2"),
        F.round(F.expr("percentile(m_total, 0.33)"), 6).alias("m1"),
        F.round(F.expr("percentile(m_total, 0.67)"), 6).alias("m2"),
    )
    gt = lambda c, t: (F.col(c) > F.col(t)).cast("int")
    return per.join(F.broadcast(b)).select(
        "o_custkey",
        "r_days",
        "f_orders",
        "m_total",
        (F.lit(3) - gt("r_days", "r1") - gt("r_days", "r2"))
        .cast("int")
        .alias("r_score"),
        (F.lit(1) + gt("f_orders", "f1") + gt("f_orders", "f2"))
        .cast("int")
        .alias("f_score"),
        (F.lit(1) + gt("m_total", "m1") + gt("m_total", "m2"))
        .cast("int")
        .alias("m_score"),
    )


@query(
    "ovl1_interval_overlap_join",
    oracle="""
    WITH iv AS (
      SELECT user_id, date_trunc('hour', CAST(ts AS TIMESTAMP)) AS band,
             min(CAST(ts AS TIMESTAMP)) AS t_lo,
             max(CAST(ts AS TIMESTAMP)) AS t_hi
      FROM events GROUP BY 1, 2
    )
    SELECT CAST(a.band AS VARCHAR) AS band,
           a.user_id AS user_a, b.user_id AS user_b,
           CAST(date_diff('second',
                greatest(a.t_lo, b.t_lo), least(a.t_hi, b.t_hi))
                AS BIGINT) AS overlap_seconds
    FROM iv a JOIN iv b
      ON a.band = b.band AND a.user_id < b.user_id
     AND a.t_lo <= b.t_hi AND b.t_lo <= a.t_hi
    """,
)
def ovl1_interval_overlap_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-OVERLAP self-join — the range×range class rj1's
    point-in-interval lookup doesn't cover: pairs of users active in
    overlapping time spans (co-presence / concurrency analysis). The
    scale-correct shape is BANDED: the equi-join key (the hour) bounds
    the pairwise fanout to one band's active population before the
    overlap residual applies — never an all-pairs cross product over
    the corpus; band width is the standard range-join binning trade
    (coarser bands = fewer groups but a larger quadratic term — the
    day-banded draft of this query output 25x the rows for the same
    corpus). Overlap length is an integer second difference of
    greatest/least endpoints — exact in both engines."""
    ev = load(spark, sf_dir, "events").select(
        "user_id", F.col("ts"), F.date_trunc("hour", "ts").alias("band")
    )
    iv = ev.groupBy("user_id", "band").agg(
        F.min("ts").alias("t_lo"), F.max("ts").alias("t_hi")
    )
    a = iv.select(
        "band",
        F.col("user_id").alias("user_a"),
        F.col("t_lo").alias("a_lo"),
        F.col("t_hi").alias("a_hi"),
    )
    b = iv.select(
        "band",
        F.col("user_id").alias("user_b"),
        F.col("t_lo").alias("b_lo"),
        F.col("t_hi").alias("b_hi"),
    )
    return (
        a.join(
            b,
            ["band"],
        )
        .filter(
            (F.col("user_a") < F.col("user_b"))
            & (F.col("a_lo") <= F.col("b_hi"))
            & (F.col("b_lo") <= F.col("a_hi"))
        )
        .select(
            F.col("band").cast("string").alias("band"),
            "user_a",
            "user_b",
            (
                F.unix_timestamp(
                    F.least("a_hi", "b_hi").cast("timestamp")
                )
                - F.unix_timestamp(
                    F.greatest("a_lo", "b_lo").cast("timestamp")
                )
            )
            .cast("long")
            .alias("overlap_seconds"),
        )
    )


# --------------------------------------------------------------------------
# sil1 — simplified-silhouette quality of the km1 clustering
# --------------------------------------------------------------------------

_SIL1_SQL = (
    _km1_ctes()
    + f"""
    , rk AS (
      SELECT vec_id, cid, d2,
             row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rk
      FROM d{_KM1_ITERS}
    ),
    ab AS (
      SELECT a.vec_id, a.cid, a.d2 AS a2, b.d2 AS b2
      FROM rk a LEFT JOIN rk b ON a.vec_id = b.vec_id AND b.rk = 2
      WHERE a.rk = 1
    ),
    sq AS (
      SELECT vec_id, cid,
             CAST(round(CAST(b2 - a2 AS DOUBLE)
                        / nullif(CAST(b2 AS DOUBLE), 0.0) * 1000000)
                  AS BIGINT) AS s
      FROM ab
    )
    SELECT CAST(cid AS BIGINT) AS cluster_id,
           CAST(count(*) AS BIGINT) AS n_members,
           CAST(count(s) AS BIGINT) AS n_valid,
           CAST(sum(s) AS DOUBLE) / CAST(count(s) AS DOUBLE) / 1000000
             AS mean_silhouette,
           CAST(min(s) AS BIGINT) AS min_s_micro,
           CAST(max(s) AS BIGINT) AS max_s_micro
    FROM sq GROUP BY cid
"""
)


@query("sil1_cluster_silhouette", oracle=_SIL1_SQL)
def sil1_cluster_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cluster simplified silhouette (Hruschka et al. 2004's
    centroid-based form, on km1's squared-distance grid): for every
    vector, s = (b − a)/b with a = dist² to its own (nearest) centroid
    and b = dist² to the second-nearest — 1 means deep inside its
    cluster, 0 means sitting on a boundary. THE clustering-quality
    gate: run after km1 and before trusting its buckets for
    mix1-style reweighting or sdd1 semantic dedup; a cluster whose
    mean silhouette ~0 is noise, not structure. Assignment is nearest
    by construction, so s ∈ [0, 1] and no negative branch exists.

    Exactness: a and b are km1's exact integer grid distances ranked
    by the integer (d2, cid) order; each point's s quantizes through
    ONE identical (divide, ·1e6, round)→BIGINT step per engine — the
    zipf1/dp1 fixed-point convention that makes the per-cluster SUM
    order-independent — and the surfaced mean divides exact integers
    twice in a fixed sequence. Duplicate centroids (b = a) give s = 0;
    a second centroid that no longer exists (k collapsed to 1) or
    b = 0 (coincident zero-distance centroids) yields NULL, counted
    apart via n_valid.

    Scale shape: reuses km1's cached quantized explode and final
    distance table (k rows per vector); the rank window partitions by
    vec_id (k-row partitions, corpus-distributed), then ONE groupBy
    on the ≤k cluster ids. Nothing new touches the corpus."""
    _, d, _ = _km1_fit(spark, sf_dir)
    w = Window.partitionBy("vec_id").orderBy("d2", "cid")
    rk = d.select("vec_id", "cid", "d2", F.row_number().over(w).alias("rk"))
    # single pass: pivot rk 1 and 2 out of ONE window scan (≤k rows
    # per vec_id) instead of filter-twice-and-join, which re-executed
    # the whole unpersisted km1 distance lineage once per branch —
    # the exact shared-subtree trap the kcore1/kcen1 commits fixed
    # (advice r7). The conditional max() is exact: rk is unique per
    # vec_id, so each bucket holds at most one value.
    ab = (
        rk.filter(F.col("rk") <= 2)
        .groupBy("vec_id")
        .agg(
            F.max(F.when(F.col("rk") == 1, F.col("cid"))).alias("cid"),
            F.max(F.when(F.col("rk") == 1, F.col("d2"))).alias("a2"),
            F.max(F.when(F.col("rk") == 2, F.col("d2"))).alias("b2"),
        )
    )
    s = (
        F.round(
            (F.col("b2") - F.col("a2")).cast("double")
            / F.nullif(F.col("b2").cast("double"), F.lit(0.0))
            * F.lit(1_000_000)
        )
        .cast("long")
        .alias("s")
    )
    sq = ab.select("cid", s)
    return sq.groupBy(F.col("cid").cast("long").alias("cluster_id")).agg(
        F.count("*").cast("long").alias("n_members"),
        F.count("s").cast("long").alias("n_valid"),
        (
            F.sum("s").cast("double")
            / F.count("s").cast("double")
            / F.lit(1_000_000.0)
        ).alias("mean_silhouette"),
        F.min("s").cast("long").alias("min_s_micro"),
        F.max("s").cast("long").alias("max_s_micro"),
    )


# --------------------------------------------------------------------------
# val1 — quality-gate × exact-dup independence audit (2×2 chi-square)
# --------------------------------------------------------------------------

#: qc1's Gopher gate as a reusable SQL predicate over `documents`
_QC1_GATE_SQL = f"""(
  CAST(len(regexp_extract_all(text, '\\S+')) AS INTEGER)
    BETWEEN 50 AND 100000
  AND CAST(length(regexp_replace(text, '\\s', '', 'g')) AS DOUBLE)
        / NULLIF(len(regexp_extract_all(text, '\\S+')), 0)
    BETWEEN 3.0 AND 10.0
  AND CAST(length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')) AS DOUBLE)
        / NULLIF(length(text), 0) < 0.1
  AND CAST(len(regexp_extract_all(lower(text), '{_STOPWORD_RE}'))
           AS INTEGER) >= 2
)"""

_VAL1_SQL = f"""
WITH f AS (
  SELECT doc_id, coalesce({_QC1_GATE_SQL}, FALSE) AS pass,
         md5(text) AS h
  FROM documents WHERE text IS NOT NULL
),
hc AS (SELECT h, CAST(count(*) AS BIGINT) AS n FROM f GROUP BY h),
lab AS (
  SELECT f.doc_id, f.pass, hc.n >= 2 AS dup
  FROM f JOIN hc ON f.h = hc.h
),
cells AS (
  SELECT pass, dup, CAST(count(*) AS BIGINT) AS o FROM lab GROUP BY 1, 2
),
m AS (
  SELECT
    CAST(coalesce(sum(o) FILTER (WHERE pass AND dup), 0) AS DECIMAL(38,0)) AS o11,
    CAST(coalesce(sum(o) FILTER (WHERE pass AND NOT dup), 0) AS DECIMAL(38,0)) AS o10,
    CAST(coalesce(sum(o) FILTER (WHERE NOT pass AND dup), 0) AS DECIMAL(38,0)) AS o01,
    CAST(coalesce(sum(o) FILTER (WHERE NOT pass AND NOT dup), 0) AS DECIMAL(38,0)) AS o00,
    CAST(sum(o) AS DECIMAL(38,0)) AS n
  FROM cells
),
chi AS (
  SELECT n,
         n * (o11 * o00 - o10 * o01) * (o11 * o00 - o10 * o01) AS num,
         (o11 + o10) * (o01 + o00) * (o11 + o01) * (o10 + o00) AS den
  FROM m
)
SELECT c.pass AS quality_pass, c.dup AS is_dup, c.o AS n_docs,
       CAST(c.o AS DOUBLE) / CAST(r.r AS DOUBLE) AS band_share,
       CAST(c.o AS DOUBLE) * CAST(chi.n AS DOUBLE)
         / nullif(CAST(r.r AS DOUBLE) * CAST(k.k AS DOUBLE), 0.0) AS lift,
       CAST(chi.num AS DOUBLE) / nullif(CAST(chi.den AS DOUBLE), 0.0)
         AS chi_squared,
       CASE WHEN chi.den > 0 THEN 1000000 * chi.num > 3841459 * chi.den
       END AS dependent
FROM cells c
JOIN (SELECT pass, CAST(sum(o) AS BIGINT) AS r FROM cells GROUP BY 1) r
  ON c.pass = r.pass
JOIN (SELECT dup, CAST(sum(o) AS BIGINT) AS k FROM cells GROUP BY 1) k
  ON c.dup = k.dup
CROSS JOIN chi
"""


@query("val1_gate_dup_independence", oracle=_VAL1_SQL)
def val1_gate_dup_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signal-validation audit: the 2×2 contingency between qc1's
    Gopher quality gate and exact-duplicate membership (d1's
    md5-content groups, n ≥ 2), with the chi-square independence test
    in its 2×2 closed form χ² = N·(o₁₁o₀₀ − o₁₀o₀₁)²/(r₁r₀c₁c₀).
    This is the "is my quality signal confounded with duplication?"
    check a curation pipeline runs before composing gates (cp1/cp2):
    if passing docs are ALSO disproportionately duplicates, filtering
    and deduping double-count the same removal, and mix1-style
    reweighting over-corrects. Surfaced per cell: count, share of its
    gate band, lift vs independence, and the corpus-level χ² with its
    α=0.05 verdict.

    Exactness: cells and margins are exact integers; χ²'s numerator
    and denominator are exact DECIMAL(38,0) products (the ab1/ab2
    convention) with the 1e6·num > 3841459·den integer significance
    gate; band_share and lift are one and two exact-operand double
    steps. NULL text is excluded by policy; a NULL gate (degenerate
    docs) coalesces to FALSE on both engines; empty margins NULL the
    χ² rather than fabricate one.

    Scale shape: one narrow projection computes the gate and the
    content hash in the same scan; ONE hash-keyed shuffle counts
    copies (d1's shape); the join back is hash-co-partitioned; the
    contingency reduce is 4 rows. At 100 TB this costs d1 + a scan."""
    docs = load(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    n_tokens = F.size(F.regexp_extract_all(F.col("text"), F.lit(r"\S+"), 0))
    n_word_chars = F.length(F.regexp_replace(F.col("text"), r"\s", ""))
    n_symbol_chars = F.length(
        F.regexp_replace(F.col("text"), r"[A-Za-z0-9\s]", "")
    )
    gate = (
        n_tokens.between(50, 100000)
        & (n_word_chars.cast("double") / F.nullif(n_tokens, F.lit(0))).between(
            3.0, 10.0
        )
        & (
            n_symbol_chars.cast("double")
            / F.nullif(F.length("text"), F.lit(0))
            < 0.1
        )
        & (
            F.size(
                F.regexp_extract_all(
                    F.lower(F.col("text")), F.lit(_STOPWORD_RE), 0
                )
            )
            >= 2
        )
    )
    f = docs.select(
        "doc_id",
        F.coalesce(gate, F.lit(False)).alias("pass"),
        F.md5(F.col("text").cast("binary")).alias("h"),
    )
    hc = f.groupBy("h").agg(F.count("*").cast("long").alias("n"))
    lab = f.join(hc, "h").select("pass", (F.col("n") >= 2).alias("dup"))
    cells = lab.groupBy("pass", "dup").agg(F.count("*").cast("long").alias("o"))
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    cell = lambda p, d: F.coalesce(  # noqa: E731
        F.sum(F.when((F.col("pass") == p) & (F.col("dup") == d), F.col("o"))),
        F.lit(0),
    ).cast("decimal(38,0)")
    m = cells.agg(
        cell(True, True).alias("o11"),
        cell(True, False).alias("o10"),
        cell(False, True).alias("o01"),
        cell(False, False).alias("o00"),
        F.sum("o").cast("decimal(38,0)").alias("n"),
    )
    dd = F.col("o11") * F.col("o00") - F.col("o10") * F.col("o01")
    chi = m.select(
        "n",
        (F.col("n") * dd * dd).alias("num"),
        (
            (F.col("o11") + F.col("o10"))
            * (F.col("o01") + F.col("o00"))
            * (F.col("o11") + F.col("o01"))
            * (F.col("o10") + F.col("o00"))
        ).alias("den"),
    )
    r = cells.groupBy("pass").agg(F.sum("o").cast("long").alias("r"))
    k = cells.groupBy("dup").agg(F.sum("o").cast("long").alias("k"))
    return (
        cells.join(r, "pass")
        .join(k, "dup")
        .join(F.broadcast(chi))
        .select(
            F.col("pass").alias("quality_pass"),
            F.col("dup").alias("is_dup"),
            F.col("o").alias("n_docs"),
            (F.col("o").cast("double") / F.col("r").cast("double")).alias(
                "band_share"
            ),
            (
                F.col("o").cast("double")
                * F.col("n").cast("double")
                / F.nullif(
                    F.col("r").cast("double") * F.col("k").cast("double"),
                    F.lit(0.0),
                )
            ).alias("lift"),
            (
                F.col("num").cast("double")
                / F.nullif(F.col("den").cast("double"), F.lit(0.0))
            ).alias("chi_squared"),
            F.when(
                F.col("den") > 0,
                F.lit(1_000_000).cast("decimal(38,0)") * F.col("num")
                > F.lit(3_841_459).cast("decimal(38,0)") * F.col("den"),
            ).alias("dependent"),
        )
    )


# --------------------------------------------------------------------------
# ts4 — seasonal-naive forecast error (MASE) per event type (round 10)
# --------------------------------------------------------------------------

_TS4_M = 7  # weekly seasonality on the daily event-count series

_TS4_SQL = f"""
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS d, CAST(count(*) AS BIGINT) AS y
  FROM events WHERE ts IS NOT NULL AND event_type IS NOT NULL
  GROUP BY 1, 2
),
bounds AS (
  SELECT event_type, min(d) AS d0, max(d) AS d1 FROM daily GROUP BY 1
),
spine AS (
  SELECT b.event_type, CAST(u.g AS DATE) AS d
  FROM bounds b, UNNEST(generate_series(CAST(b.d0 AS TIMESTAMP),
                                        CAST(b.d1 AS TIMESTAMP),
                                        INTERVAL 1 DAY)) u(g)
),
dense AS (
  SELECT s.event_type, s.d, COALESCE(dy.y, 0) AS y
  FROM spine s LEFT JOIN daily dy USING (event_type, d)
),
lagged AS (
  SELECT event_type, d, y,
         lag(y, 1) OVER (PARTITION BY event_type ORDER BY d) AS y1,
         lag(y, {_TS4_M}) OVER (PARTITION BY event_type ORDER BY d) AS ym
  FROM dense
)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_days,
       CAST(SUM(CASE WHEN ym IS NOT NULL THEN abs(y - ym) END) AS BIGINT)
         AS seasonal_abs_err,
       CAST(SUM(CASE WHEN y1 IS NOT NULL THEN abs(y - y1) END) AS BIGINT)
         AS naive_abs_err,
       CAST((1000000
             * SUM(CASE WHEN ym IS NOT NULL THEN abs(y - ym) END)
             * (count(*) - 1))
            // NULLIF(SUM(CASE WHEN y1 IS NOT NULL THEN abs(y - y1) END)
                      * (count(*) - {_TS4_M}), 0) AS BIGINT) AS mase_ppm
FROM lagged
GROUP BY event_type
"""


@query("ts4_seasonal_mase", oracle=_TS4_SQL)
def ts4_seasonal_mase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive forecast-error audit per event type: MASE
    (Hyndman & Koehler 2006, "Another look at measures of forecast
    accuracy") of the weekly seasonal-naive forecast ŷ_t = y_{{t−7}}
    on the gap-filled daily count series, scaled by the one-step
    naive MAE — the scale-free forecast-quality number a monitoring
    pipeline tracks per series before trusting a seasonality
    assumption (MASE < 1e6 ppm means weekly-lag beats carry-forward;
    ≫ 1e6 means the series has no weekly structure). Completes the
    time-series family: ts1 gap-fills, sea1 finds the seasonal
    profile, cpd1 finds breaks — ts4 scores whether the seasonal
    structure actually PREDICTS.

    Exactness: counts are BIGINTs on the ts1-style gap-filled spine
    (a missing day is a real zero for count series, and the ROW lag
    over the dense spine IS the calendar lag); both error sums are
    exact integer Σ|Δ|; MASE exits as ONE integral division in ppm —
    (10⁶·Σ|y−y₋₇|·(n−1)) div (Σ|y−y₋₁|·(n−7)) — NULL when the
    denominator is empty or zero (constant series, <2 days) and the
    numerator-side CASE leaves short series NULL rather than 0/0.

    Scale shape: one (type, date) groupBy (map-side combinable), the
    spine generate is dimension-sized, both lags ride ONE type-keyed
    window sort, and the final rollup reuses the same key — series
    count × horizon rows, corpus-independent after the first
    aggregate."""
    ev = load(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull() & F.col("event_type").isNotNull()
    )
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("d")
    ).agg(F.count("*").cast("long").alias("y"))
    bounds = daily.groupBy("event_type").agg(
        F.min("d").alias("d0"), F.max("d").alias("d1")
    )
    spine = bounds.select(
        "event_type",
        F.explode(F.sequence("d0", "d1")).alias("d"),
    )
    full = spine.join(daily, ["event_type", "d"], "left").select(
        "event_type", "d", F.coalesce(F.col("y"), F.lit(0)).alias("y")
    )
    w = Window.partitionBy("event_type").orderBy("d")
    lagged = full.select(
        "event_type",
        "y",
        F.lag("y", 1).over(w).alias("y1"),
        F.lag("y", _TS4_M).over(w).alias("ym"),
    )
    num = F.sum(
        F.when(F.col("ym").isNotNull(), F.abs(F.col("y") - F.col("ym")))
    ).cast("long")
    den = F.sum(
        F.when(F.col("y1").isNotNull(), F.abs(F.col("y") - F.col("y1")))
    ).cast("long")
    n = F.count("*").cast("long")
    return lagged.groupBy("event_type").agg(
        n.alias("n_days"),
        num.alias("seasonal_abs_err"),
        den.alias("naive_abs_err"),
        F.expr(
            f"CAST((1000000 * SUM(CASE WHEN ym IS NOT NULL THEN abs(y - ym)"
            f" END) * (count(*) - 1)) div nullif(SUM(CASE WHEN y1 IS NOT"
            f" NULL THEN abs(y - y1) END) * (count(*) - {_TS4_M}), 0)"
            " AS BIGINT)"
        ).alias("mase_ppm"),
    )


# --------------------------------------------------------------------------
# acf1 — autocorrelation function of the daily count series (round 10)
# --------------------------------------------------------------------------

_ACF_MAX_LAG = 7

_ACF_SQL = f"""
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS d, CAST(count(*) AS BIGINT) AS y
  FROM events WHERE ts IS NOT NULL AND event_type IS NOT NULL
  GROUP BY 1, 2
),
bounds AS (
  SELECT event_type, min(d) AS d0, max(d) AS d1 FROM daily GROUP BY 1
),
spine AS (
  SELECT b.event_type, CAST(u.g AS DATE) AS d
  FROM bounds b, UNNEST(generate_series(CAST(b.d0 AS TIMESTAMP),
                                        CAST(b.d1 AS TIMESTAMP),
                                        INTERVAL 1 DAY)) u(g)
),
dense AS (
  SELECT s.event_type, s.d, COALESCE(dy.y, 0) AS y
  FROM spine s LEFT JOIN daily dy USING (event_type, d)
),
stats AS (
  SELECT event_type, CAST(count(*) AS HUGEINT) AS n,
         CAST(sum(y) AS HUGEINT) AS s
  FROM dense GROUP BY event_type
),
den AS (
  SELECT d.event_type,
         CAST(sum((st.n * d.y - st.s) * (st.n * d.y - st.s)) AS HUGEINT)
           AS den
  FROM dense d JOIN stats st USING (event_type)
  GROUP BY d.event_type
),
pairs AS (
  SELECT a.event_type, CAST(k.lag AS BIGINT) AS lag,
         a.y AS y_t, b.y AS y_tk
  FROM dense a
  CROSS JOIN (SELECT unnest(range(1, {_ACF_MAX_LAG} + 1)) AS lag) k
  JOIN dense b ON b.event_type = a.event_type
              AND b.d = a.d - CAST(k.lag AS INTEGER)
),
num AS (
  SELECT p.event_type, p.lag,
         CAST(count(*) AS BIGINT) AS n_pairs,
         CAST(sum((st.n * p.y_t - st.s) * (st.n * p.y_tk - st.s))
              AS HUGEINT) AS num
  FROM pairs p JOIN stats st USING (event_type)
  GROUP BY p.event_type, p.lag
)
SELECT n.event_type, n.lag,
       CAST(st.n AS BIGINT) AS n_days,
       n.n_pairs,
       CASE WHEN n.num > 0 THEN 1 WHEN n.num < 0 THEN -1 ELSE 0 END
         AS acf_sign,
       CAST((1000000 * abs(n.num)) // NULLIF(d.den, 0) AS BIGINT)
         AS abs_acf_micro
FROM num n
JOIN stats st USING (event_type)
JOIN den d USING (event_type)
"""


@query("acf1_daily_autocorrelation", oracle=_ACF_SQL)
def acf1_daily_autocorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample autocorrelation function r_k, k = 1..{_ACF_MAX_LAG}, of
    each event type's gap-filled daily count series (Box & Jenkins;
    the correlogram every time-series treatment starts from): the lag
    structure that tells a monitoring pipeline whether sea1's
    hour-of-day profile and ts4's weekly-lag forecast are backed by
    real serial dependence, and which lag to difference at. r_7 high
    = weekly cycle; all lags ~ 0 = white noise, so drift alarms on
    the raw series are honest; r_1 near 1 = a trending series whose
    day-over-day deltas are the stationary object.

    Exactness: the mean never becomes a float — deviations cross-
    multiply by n per the loo1/ab1 rule ((n·y_t − S)(n·y_{{t−k}} − S)
    with S = Σy), numerator and denominator are exact HUGEINT/
    DECIMAL(38,0) sums, sign is an integer comparison carried
    separately, and |r_k| exits as ONE integral micro division
    (non-negative, div == //), NULL for a constant series (den = 0).
    The denominator is the full-series Σ(n·y − S)² — the standard
    biased-normalization ACF, so |r_k| <= 1e6 micro always.

    Scale shape: everything after the one (type, date) counting
    groupBy runs on the bounded calendar spine (days × types rows):
    the lag pairing is a spine-sized self-join against a
    {_ACF_MAX_LAG}-row literal lag table, stats/den are spine-sized
    aggregates, and the output is types × lags rows. At 100 TB the
    only corpus-sized pass is the first count."""
    ev = load(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull() & F.col("event_type").isNotNull()
    )
    daily = ev.groupBy("event_type", F.to_date("ts").alias("d")).agg(
        F.count("*").cast("long").alias("y")
    )
    bounds = daily.groupBy("event_type").agg(
        F.min("d").alias("d0"), F.max("d").alias("d1")
    )
    # pin the calendar-bounded dense series: its stats/pair consumers
    # would otherwise each replay the corpus-sized (type, date)
    # counting groupBy — guide §3.3 (A/B
    # git show 555704a:tools/ab_r14_pin.json)
    dense = pin(
        bounds.select(
            "event_type", F.explode(F.sequence("d0", "d1")).alias("d")
        )
        .join(daily, ["event_type", "d"], "left")
        .select(
            "event_type", "d", F.coalesce(F.col("y"), F.lit(0)).alias("y")
        )
    )
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    stats = dense.groupBy("event_type").agg(
        F.count("*").cast("decimal(38,0)").alias("n"),
        F.sum("y").cast("decimal(38,0)").alias("s"),
    )
    den = (
        dense.join(F.broadcast(stats), "event_type")
        .groupBy("event_type")
        .agg(
            F.sum(
                (dec(F.col("n") * F.col("y") - F.col("s")))
                * (F.col("n") * F.col("y") - F.col("s"))
            ).alias("den")
        )
    )
    lags = spark.range(1, _ACF_MAX_LAG + 1).select(
        F.col("id").cast("int").alias("lag")
    )
    pairs = (
        dense.alias("a")
        .crossJoin(F.broadcast(lags))
        .join(
            dense.alias("b"),
            (F.col("b.event_type") == F.col("a.event_type"))
            & (F.col("b.d") == F.date_sub(F.col("a.d"), F.col("lag"))),
        )
        .select(
            F.col("a.event_type").alias("event_type"),
            F.col("lag").cast("long").alias("lag"),
            F.col("a.y").alias("y_t"),
            F.col("b.y").alias("y_tk"),
        )
    )
    num = (
        pairs.join(F.broadcast(stats), "event_type")
        .groupBy("event_type", "lag")
        .agg(
            F.count("*").cast("long").alias("n_pairs"),
            F.sum(
                (dec(F.col("n") * F.col("y_t") - F.col("s")))
                * (F.col("n") * F.col("y_tk") - F.col("s"))
            ).alias("num"),
        )
    )
    return (
        num.join(F.broadcast(stats), "event_type")
        .join(F.broadcast(den), "event_type")
        .select(
            "event_type",
            "lag",
            F.col("n").cast("long").alias("n_days"),
            "n_pairs",
            F.when(F.col("num") > 0, 1)
            .when(F.col("num") < 0, -1)
            .otherwise(0)
            .cast("int")
            .alias("acf_sign"),
            F.expr(
                "CAST((1000000 * abs(num)) div nullif(den, 0) AS BIGINT)"
            ).alias("abs_acf_micro"),
        )
    )


# --------------------------------------------------------------------------
# qc5 — per-source encoding & whitespace sanity profile (round 10)
# --------------------------------------------------------------------------

_QC5_SQL = """
WITH docs AS (
  SELECT source,
         CAST(length(text) AS BIGINT) AS chars,
         CAST(strlen(text) AS BIGINT) AS bytes,
         CAST(length(text) - length(replace(text, chr(10), ''))
              AS BIGINT) AS nl,
         CAST(length(text) - length(replace(text, chr(13), ''))
              AS BIGINT) AS cr,
         CAST(length(text) - length(replace(text, chr(9), ''))
              AS BIGINT) AS tab,
         CAST(length(text) - length(replace(text, chr(65533), ''))
              AS BIGINT) AS repl
  FROM documents WHERE text IS NOT NULL AND source IS NOT NULL
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(chars) AS BIGINT) AS n_chars,
       CAST(sum(bytes) AS BIGINT) AS n_bytes,
       CAST(sum(bytes - chars) AS BIGINT) AS multibyte_extra_bytes,
       CAST(sum(nl) AS BIGINT) AS n_newlines,
       CAST(sum(cr) AS BIGINT) AS n_carriage_returns,
       CAST(sum(tab) AS BIGINT) AS n_tabs,
       CAST(sum(repl) AS BIGINT) AS n_replacement_chars,
       CAST((1000 * sum(bytes - chars)) // NULLIF(sum(bytes), 0) AS BIGINT)
         AS multibyte_permille,
       CAST((1000000 * sum(nl + cr + tab))
            // NULLIF(sum(chars), 0) AS BIGINT) AS whitespace_ctl_micro
FROM docs GROUP BY source
"""


@query("qc5_encoding_profile", oracle=_QC5_SQL)
def qc5_encoding_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source encoding & whitespace sanity profile — the mojibake
    / double-encoding / CRLF-contamination monitor a web-scale ingest
    runs per feed (the UTF-8 health check behind CCNet's and C4's
    encoding cleanup steps): multibyte pressure comes REGEX-FREE from
    the UTF-8 identity bytes(text) - chars(text) = continuation bytes
    (0 for pure ASCII; a sudden rise on an English feed = mojibake or
    double-encoding), U+FFFD REPLACEMENT CHARACTER counts surface
    upstream decode failures directly, and newline/CR/tab counts are
    exact char-drop differences length(x) - length(replace(x, c, ''))
    — no regex dialect is involved anywhere, so Spark's Java and
    DuckDB's RE2 engines have nothing to disagree on.

    Exactness: every figure is a BIGINT count; the two rates exit as
    integral permille/micro divisions of non-negative integers
    (div == //). Control characters are addressed as chr(N) code
    points in the oracle so no raw control bytes live inside SQL
    string literals.

    Scale shape: ONE map-side-combinable (source) groupBy over
    per-row projections; no joins, no windows, no explode — the
    cheapest possible full-corpus pass, which is the point: this
    gate runs on EVERY ingest batch before any tokenization."""
    txt = F.col("text")
    docs = (
        load(spark, sf_dir, "documents")
        .filter(txt.isNotNull() & F.col("source").isNotNull())
        .select(
            "source",
            F.length(txt).cast("long").alias("chars"),
            F.octet_length(txt).cast("long").alias("bytes"),
            (F.length(txt) - F.length(F.translate(txt, "\n", "")))
            .cast("long")
            .alias("nl"),
            (F.length(txt) - F.length(F.translate(txt, "\r", "")))
            .cast("long")
            .alias("cr"),
            (F.length(txt) - F.length(F.translate(txt, "\t", "")))
            .cast("long")
            .alias("tab"),
            (F.length(txt) - F.length(F.translate(txt, "�", "")))
            .cast("long")
            .alias("repl"),
        )
    )
    return docs.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("chars").cast("long").alias("n_chars"),
        F.sum("bytes").cast("long").alias("n_bytes"),
        F.sum(F.col("bytes") - F.col("chars"))
        .cast("long")
        .alias("multibyte_extra_bytes"),
        F.sum("nl").cast("long").alias("n_newlines"),
        F.sum("cr").cast("long").alias("n_carriage_returns"),
        F.sum("tab").cast("long").alias("n_tabs"),
        F.sum("repl").cast("long").alias("n_replacement_chars"),
        F.expr(
            "CAST((1000 * sum(bytes - chars)) div nullif(sum(bytes), 0)"
            " AS BIGINT)"
        ).alias("multibyte_permille"),
        F.expr(
            "CAST((1000000 * sum(nl + cr + tab)) div nullif(sum(chars), 0)"
            " AS BIGINT)"
        ).alias("whitespace_ctl_micro"),
    )


# --------------------------------------------------------------------------
# mk1 — Mann-Kendall trend test + Theil-Sen slope (round 10)
# --------------------------------------------------------------------------

# slope quantization shift: slope_micro = floor(1e6*dy/dx) computed as
# (1e6*dy + OFF*dx) div dx - OFF, exact for any sign of dy because the
# numerator is shifted non-negative first (valid while |dy| <= 1e6*dx,
# i.e. day-over-day count deltas below one million — document at sf10+)
_MK_OFF = 1_000_000_000_000

_MK_SQL = f"""
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS d, CAST(count(*) AS BIGINT) AS y
  FROM events WHERE ts IS NOT NULL AND event_type IS NOT NULL
  GROUP BY 1, 2
),
bounds AS (
  SELECT event_type, min(d) AS d0, max(d) AS d1 FROM daily GROUP BY 1
),
spine AS (
  SELECT b.event_type, CAST(u.g AS DATE) AS d
  FROM bounds b, UNNEST(generate_series(CAST(b.d0 AS TIMESTAMP),
                                        CAST(b.d1 AS TIMESTAMP),
                                        INTERVAL 1 DAY)) u(g)
),
dense AS (
  SELECT s.event_type, s.d, COALESCE(dy.y, 0) AS y
  FROM spine s LEFT JOIN daily dy USING (event_type, d)
),
n AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n FROM dense GROUP BY 1),
ties AS (
  SELECT event_type,
         CAST(coalesce(sum(t * (t - 1) * (2 * t + 5)), 0) AS BIGINT) AS tie18
  FROM (SELECT event_type, CAST(count(*) AS BIGINT) AS t
        FROM dense GROUP BY event_type, y)
  GROUP BY event_type
),
pairs AS (
  SELECT a.event_type,
         CASE WHEN b.y > a.y THEN 1 WHEN b.y < a.y THEN -1 ELSE 0 END AS sg,
         CAST(b.y - a.y AS BIGINT) AS dy,
         CAST(date_diff('day', a.d, b.d) AS BIGINT) AS dx
  FROM dense a JOIN dense b
    ON b.event_type = a.event_type AND b.d > a.d
),
slopes AS (
  SELECT event_type,
         (1000000 * dy + {_MK_OFF} * dx) // dx - {_MK_OFF} AS sm
  FROM pairs
),
med AS (
  SELECT event_type, CAST(sm AS BIGINT) AS theil_sen_slope_micro
  FROM (SELECT event_type, sm,
               row_number() OVER (PARTITION BY event_type ORDER BY sm) AS r,
               count(*) OVER (PARTITION BY event_type) AS m
        FROM slopes)
  WHERE r = (m + 1) // 2
),
mk AS (
  SELECT event_type, CAST(sum(sg) AS BIGINT) AS s_stat,
         CAST(count(*) AS BIGINT) AS n_pairs
  FROM pairs GROUP BY event_type
)
SELECT mk.event_type, n.n AS n_days, mk.n_pairs, mk.s_stat,
       CAST(n.n * (n.n - 1) * (2 * n.n + 5) - t.tie18 AS BIGINT) AS var18,
       CASE WHEN mk.s_stat <> 0
                 AND 10000 * 18 * (abs(mk.s_stat) - 1) * (abs(mk.s_stat) - 1)
                 > 38416 * (n.n * (n.n - 1) * (2 * n.n + 5) - t.tie18)
            THEN 1 ELSE 0 END AS trend_sig_05,
       m.theil_sen_slope_micro
FROM mk
JOIN n USING (event_type)
JOIN ties t USING (event_type)
JOIN med m USING (event_type)
"""


@query("mk1_trend_test", oracle=_MK_SQL)
def mk1_trend_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall trend test + Theil-Sen slope per event type on the
    gap-filled daily count series — THE standard distribution-free
    trend pair (Mann 1945 / Kendall's S; Theil 1950 / Sen 1968 for
    the slope): S = sum of sign(y_j - y_i) over ordered day pairs
    detects monotone trend with no normality or linearity assumption,
    and the Theil-Sen slope (median of all pairwise slopes, 29.3%
    breakdown) is the robust trend magnitude a monitoring pipeline
    alarms on where g13's OLS would chase one outlier day. The
    significance gate is the tie-corrected MK variance
    Var(S) = (n(n-1)(2n+5) - sum t(t-1)(2t+5))/18 (ties REAL here:
    zero-filled days tie), with the textbook continuity correction
    z = (|S|-1)/sqrt(Var(S)) (Kendall 1975; S=0 is never significant),
    tested at alpha = .05 by integer cross-multiplication:
    S != 0 AND 10000*18*(|S|-1)^2 > 38416*Var18 (1.96^2 = 3.8416
    exactly — the ab1 no-float-threshold rule).

    Exactness: S, Var18 and the gate are pure BIGINT integer
    arithmetic; pairwise slopes quantize by ONE floor division made
    sign-safe with the {_MK_OFF} shift ((1e6*dy + OFF*dx) div dx -
    OFF = floor(1e6*dy/dx) exactly while |dy| <= 1e6*dx, far above
    any per-type daily count delta through sf10); the median is the
    LOWER median by row_number over the bounded slope set — a total
    order on integers, no float and no interpolation anywhere.

    Scale shape: after the one corpus-sized (type, date) counting
    groupBy, every relation is calendar-bounded: the pair join is
    spine x spine within type (~n^2/2 = 435 rows/type at 30 days),
    the median window partitions by type over those bounded pairs,
    and ties/n are spine-sized aggregates. The 100 TB cost is the
    first count; the statistics are corpus-independent."""
    ev = load(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull() & F.col("event_type").isNotNull()
    )
    daily = ev.groupBy("event_type", F.to_date("ts").alias("d")).agg(
        F.count("*").cast("long").alias("y")
    )
    bounds = daily.groupBy("event_type").agg(
        F.min("d").alias("d0"), F.max("d").alias("d1")
    )
    # pin the calendar-bounded dense series: its stats/pair consumers
    # would otherwise each replay the corpus-sized (type, date)
    # counting groupBy — guide §3.3 (A/B
    # git show 555704a:tools/ab_r14_pin.json)
    dense = pin(
        bounds.select(
            "event_type", F.explode(F.sequence("d0", "d1")).alias("d")
        )
        .join(daily, ["event_type", "d"], "left")
        .select(
            "event_type", "d", F.coalesce(F.col("y"), F.lit(0)).alias("y")
        )
    )
    n = dense.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n")
    )
    ties = (
        dense.groupBy("event_type", "y")
        .agg(F.count("*").cast("long").alias("t"))
        .groupBy("event_type")
        .agg(
            F.coalesce(
                F.sum(
                    F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)
                ),
                F.lit(0),
            )
            .cast("long")
            .alias("tie18")
        )
    )
    pairs = (
        dense.alias("a")
        .join(
            dense.alias("b"),
            (F.col("b.event_type") == F.col("a.event_type"))
            & (F.col("b.d") > F.col("a.d")),
        )
        .select(
            F.col("a.event_type").alias("event_type"),
            F.when(F.col("b.y") > F.col("a.y"), 1)
            .when(F.col("b.y") < F.col("a.y"), -1)
            .otherwise(0)
            .alias("sg"),
            (F.col("b.y") - F.col("a.y")).cast("long").alias("dy"),
            F.datediff(F.col("b.d"), F.col("a.d")).cast("long").alias("dx"),
        )
    )
    slopes = pairs.select(
        "event_type",
        F.expr(
            f"CAST((1000000 * dy + {_MK_OFF} * dx) div dx - {_MK_OFF}"
            " AS BIGINT)"
        ).alias("sm"),
    )
    wm = Window.partitionBy("event_type").orderBy("sm")
    med = (
        slopes.select(
            "event_type",
            "sm",
            F.row_number().over(wm).alias("r"),
            F.count("*")
            .over(Window.partitionBy("event_type"))
            .alias("m"),
        )
        .filter(F.col("r") == F.floor((F.col("m") + 1) / 2))
        .select(
            "event_type", F.col("sm").alias("theil_sen_slope_micro")
        )
    )
    mk = pairs.groupBy("event_type").agg(
        F.sum("sg").cast("long").alias("s_stat"),
        F.count("*").cast("long").alias("n_pairs"),
    )
    return (
        mk.join(n, "event_type")
        .join(ties, "event_type")
        .join(med, "event_type")
        .select(
            "event_type",
            F.col("n").alias("n_days"),
            "n_pairs",
            "s_stat",
            (
                F.col("n") * (F.col("n") - 1) * (2 * F.col("n") + 5)
                - F.col("tie18")
            )
            .cast("long")
            .alias("var18"),
            F.when(
                (F.col("s_stat") != 0)
                & (
                    F.lit(10000 * 18)
                    * (F.abs(F.col("s_stat")) - 1)
                    * (F.abs(F.col("s_stat")) - 1)
                    > F.lit(38416)
                    * (
                        F.col("n") * (F.col("n") - 1) * (2 * F.col("n") + 5)
                        - F.col("tie18")
                    )
                ),
                1,
            )
            .otherwise(0)
            .cast("int")
            .alias("trend_sig_05"),
            "theil_sen_slope_micro",
        )
    )


# --------------------------------------------------------------------------
# ewma1 — simple exponential smoothing forecast, exact weights (round 10)
# --------------------------------------------------------------------------

_EWMA_MAX_I = 34  # power table depth. Bounds, stated precisely: the
# i-th term is 1e6 * 3 * 7^i * y_i, so at i=34 it is ~1.6e35 * y_i and
# DECIMAL(38,0) overflows once that day's count y_i >= ~613 — the depth
# is safe for our 30-day calendars (i <= 29, term <= ~7e32 * y) with
# headroom to y ~= 1e5/day, NOT unconditionally "to 35 days". Days
# older than i=34 are not weight-truncated: the inner join against the
# power table DROPS them entirely (their true weight would be
# 0.7^35 ~= 4e-6, below the micro quantum, so the dropped mass rounds
# to 0 in the output units — but the mechanism is a drop, not a clamp).
_EWMA_POWS = [(i, 7**i, 10**i) for i in range(_EWMA_MAX_I + 1)]

_EWMA_VALUES_SQL = ",\n  ".join(
    f"({i}, CAST('{p7}' AS HUGEINT), CAST('{p10}' AS HUGEINT))"
    for i, p7, p10 in _EWMA_POWS
)

_EWMA_SQL = f"""
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS d, CAST(count(*) AS BIGINT) AS y
  FROM events WHERE ts IS NOT NULL AND event_type IS NOT NULL
  GROUP BY 1, 2
),
bounds AS (
  SELECT event_type, min(d) AS d0, max(d) AS d1 FROM daily GROUP BY 1
),
spine AS (
  SELECT b.event_type, CAST(u.g AS DATE) AS d,
         CAST(date_diff('day', b.d0, CAST(u.g AS DATE)) AS BIGINT) AS r,
         CAST(date_diff('day', b.d0, b.d1) AS BIGINT) AS tmax
  FROM bounds b, UNNEST(generate_series(CAST(b.d0 AS TIMESTAMP),
                                        CAST(b.d1 AS TIMESTAMP),
                                        INTERVAL 1 DAY)) u(g)
),
dense AS (
  SELECT s.event_type, s.r, s.tmax, COALESCE(dy.y, 0) AS y
  FROM spine s LEFT JOIN daily dy USING (event_type, d)
),
pows(i, p7, p10) AS (VALUES
  {_EWMA_VALUES_SQL}
),
terms AS (
  SELECT d.event_type, d.tmax, d.y,
         CASE WHEN d.tmax - d.r = d.tmax
              THEN (1000000 * p.p7 * d.y) // p.p10
              ELSE (1000000 * 3 * p.p7 * d.y) // (p.p10 * 10)
         END AS t_micro,
         CASE WHEN d.r = d.tmax THEN d.y END AS last_y
  FROM dense d JOIN pows p ON p.i = d.tmax - d.r
)
SELECT event_type,
       CAST(any_value(tmax) + 1 AS BIGINT) AS n_days,
       CAST(max(last_y) AS BIGINT) AS last_y,
       CAST(sum(t_micro) AS BIGINT) AS forecast_micro
FROM terms GROUP BY event_type
"""


@query("ewma1_exponential_smoothing", oracle=_EWMA_SQL)
def ewma1_exponential_smoothing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simple exponential smoothing one-step forecast of each event
    type's daily count (Brown 1956 / Hyndman & Athanasopoulos, SES
    with alpha = 0.3): s_T = alpha*sum_(i<T-1) (1-alpha)^i * y_(T-i)
    + (1-alpha)^(T-1) * y_1 — the level every ops dashboard smooths
    raw counts with, and the forecast ts4's MASE would score. The
    recurrence is SEQUENTIAL, which is exactly why engines usually
    surrender it to drivers — the closed geometric form makes it ONE
    weighted aggregate instead.

    Exactness: alpha = 3/10 makes every weight the exact rational
    3*7^i/10^(i+1) (boundary term 7^(T-1)/10^(T-1)); the powers come
    from a PRECOMPUTED {n}-row integer literal table (the rbo1 rule —
    libm pow never runs), each term is one non-negative integral
    micro division, and the forecast is their exact sum. Gap days are
    real zeros on the ts1-style dense spine, so the calendar lag and
    the weight index agree.

    Scale shape: one corpus-sized (type, date) counting groupBy; the
    spine join, the {n}-row power-table join, and the final (type)
    rollup are all calendar-bounded. No windows at all — the weight
    index i = T - r is pure date arithmetic."""
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
        "d1",
    ).select(
        "event_type",
        "d",
        F.datediff("d", "d0").cast("long").alias("r"),
        F.datediff("d1", "d0").cast("long").alias("tmax"),
    )
    dense = spine.join(daily, ["event_type", "d"], "left").select(
        "event_type",
        "r",
        "tmax",
        F.coalesce(F.col("y"), F.lit(0)).alias("y"),
    )
    pows = spark.createDataFrame(
        [(i, str(p7), str(p10)) for i, p7, p10 in _EWMA_POWS],
        "i INT, p7 STRING, p10 STRING",
    ).select(
        F.col("i").cast("long").alias("i"),
        F.col("p7").cast("decimal(38,0)").alias("p7"),
        F.col("p10").cast("decimal(38,0)").alias("p10"),
    )
    terms = dense.join(
        F.broadcast(pows), pows["i"] == dense["tmax"] - dense["r"]
    ).select(
        "event_type",
        "tmax",
        F.expr(
            "CASE WHEN tmax - r = tmax"
            " THEN (1000000 * p7 * y) div p10"
            " ELSE (1000000 * 3 * p7 * y) div (p10 * 10) END"
        ).alias("t_micro"),
        F.when(F.col("r") == F.col("tmax"), F.col("y")).alias("last_y"),
    )
    return terms.groupBy("event_type").agg(
        (F.any_value(F.col("tmax")) + 1).cast("long").alias("n_days"),
        F.max("last_y").cast("long").alias("last_y"),
        F.sum("t_micro").cast("long").alias("forecast_micro"),
    )
