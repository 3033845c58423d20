"""Extended-surface queries: events windows, text analysis, dedup,
similarity search (SURVEY.md §7 phases 5-6; BASELINE north star).

These go beyond the reference's operator set — they are the
training-data-pipeline operations a 100 TB deployment of this engine
needs. Each is still a declarative DataFrame plan; Python never touches
the hot path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.dedup import CE_HASH64_SQL as _CEH
from ..functions.dedup import ce_half_sql as _ce_half
from ..functions.spread import spread_if_narrow
from .registry import load, load_spread, materialized, query, scratch_dir

# --------------------------------------------------------------------------
# events: time windows (batch twins of the streaming surface)
# --------------------------------------------------------------------------


@query(
    "e1_tumbling_window",
    oracle="""
    WITH ev AS (SELECT CAST(ts AS TIMESTAMP) AS ts, event_type, value FROM events)
    SELECT date_trunc('hour', ts) AS window_start,
           date_trunc('hour', ts) + INTERVAL 1 HOUR AS window_end,
           event_type,
           count(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
    FROM ev
    GROUP BY 1, 2, 3
    """,
)
def e1_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour aggregation via ``window()`` — the batch twin of
    the streaming watermark query in :mod:`..streaming.ops`. The
    reference's CET/LSET window (``dags/etl/source_to_stage.py:73``) is
    the degenerate 1-bucket version of this."""
    return (
        load(spark, sf_dir, "events")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)"))
            .cast("double")
            .alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


@query(
    "e2_sessionization",
    oracle="""
    WITH ev AS (SELECT CAST(ts AS TIMESTAMP) AS ts, user_id FROM events),
    marked AS (
      SELECT user_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS new_session
      FROM ev
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ),
    sessions AS (
      SELECT user_id, ts,
             SUM(new_session) OVER (
               PARTITION BY user_id ORDER BY ts
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      FROM marked
    )
    SELECT user_id,
           min(ts) AS session_start,
           max(ts) + INTERVAL 30 MINUTE AS session_end,
           count(*) AS n_events
    FROM sessions
    GROUP BY user_id, session_id
    """,
)
def e2_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user sessionization with a 30-minute gap via
    ``session_window`` (batch mode). Spark merges an event into the
    current session iff ``ts <= previous_end`` (= prev ts + gap) — the
    boundary is INCLUSIVE, so a gap of exactly 30min still merges
    (verified against an exact-boundary fixture in
    tests/test_adversarial_events.py) — and the oracle's
    gaps-and-islands SQL replicates that with a strict ``>`` on the
    new-session test."""
    return (
        load(spark, sf_dir, "events")
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )


# --------------------------------------------------------------------------
# documents: text analysis + exact dedup + fingerprinting
# --------------------------------------------------------------------------


@query(
    "d1_exact_dedup",
    oracle="""
    SELECT md5(text) AS content_hash,
           min(doc_id) AS keep_doc_id,
           count(*) AS n_copies
    FROM documents
    GROUP BY 1
    """,
)
def d1_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact content dedup: hash-groupBy on md5(text), keep the lowest
    doc_id per content group. One shuffle on the hash; at 100 TB,
    map-side combine collapses most duplicates before the exchange."""
    return (
        load(spark, sf_dir, "documents")
        .groupBy(F.md5(F.col("text").cast("binary")).alias("content_hash"))
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count("*").alias("n_copies"),
        )
    )


@query(
    "t1_token_stats",
    oracle="""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '\\S+')) AS INTEGER) AS n_tokens,
           CAST(length(text) AS INTEGER) AS n_chars,
           CAST(length(text) AS DOUBLE)
             / NULLIF(len(regexp_extract_all(text, '\\S+')), 0) AS chars_per_token
    FROM documents
    """,
)
def t1_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace token counting + length stats, all JVM-side regex —
    the quality-scoring primitives of a data-curation pipeline."""
    df = load(spark, sf_dir, "documents")
    n_tokens = F.size(F.regexp_extract_all(F.col("text"), F.lit(r"\S+"), 0))
    n_chars = F.length("text")
    return df.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        n_chars.alias("n_chars"),
        (n_chars.cast("double") / F.nullif(n_tokens, F.lit(0))).alias(
            "chars_per_token"
        ),
    )


@query(
    "t2_lang_stopword_score",
    oracle="""
    SELECT doc_id, lang,
           CAST(len(regexp_extract_all(lower(text), '\\b(the|a|of|to|and)\\b'))
                AS INTEGER) AS en_stopword_hits,
           CAST(len(regexp_extract_all(lower(text), '\\b(the|a|of|to|and)\\b')) AS DOUBLE)
             / NULLIF(len(regexp_extract_all(text, '\\S+')), 0) AS stopword_ratio,
           CASE WHEN CAST(len(regexp_extract_all(lower(text), '\\b(the|a|of|to|and)\\b')) AS DOUBLE)
                     / NULLIF(len(regexp_extract_all(text, '\\S+')), 0) >= 0.05
                THEN 'en' ELSE 'other' END AS predicted_lang
    FROM documents
    """,
)
def t2_lang_stopword_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID heuristic: English stopword density. A real deployment
    swaps the stopword list per language; the plan shape (pure column
    expressions, no UDF) is the point."""
    df = load(spark, sf_dir, "documents")
    hits = F.size(
        F.regexp_extract_all(F.lower(F.col("text")), F.lit(r"\b(the|a|of|to|and)\b"), 0)
    )
    n_tokens = F.size(F.regexp_extract_all(F.col("text"), F.lit(r"\S+"), 0))
    ratio = hits.cast("double") / F.nullif(n_tokens, F.lit(0))
    return df.select(
        "doc_id",
        "lang",
        hits.alias("en_stopword_hits"),
        ratio.alias("stopword_ratio"),
        F.when(ratio >= 0.05, F.lit("en")).otherwise(F.lit("other")).alias(
            "predicted_lang"
        ),
    )


@query(
    "t3_fingerprint",
    oracle="""
    SELECT doc_id,
           md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fingerprint
    FROM documents
    """,
)
def t3_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalized content fingerprint (lowercase, collapse whitespace,
    md5) — the key for near-exact dedup across formatting variants."""
    norm = F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")
    return load(spark, sf_dir, "documents").select(
        "doc_id", F.md5(norm.cast("binary")).alias("fingerprint")
    )


# --------------------------------------------------------------------------
# embeddings: similarity search
# --------------------------------------------------------------------------

def _dot(a, b):
    """Exact order-independent dot product: per-element double products
    (IEEE-identical in any engine) rounded once to DECIMAL(28,14), then
    summed — the shared BIGINT-fold implementation; see
    :func:`...functions.similarity.dot_decimal` for the value-identity
    argument and the Σ|aᵢbᵢ| < ~9.2e4 domain bound."""
    from ..functions.similarity import dot_decimal

    return dot_decimal(a, b)


#: Exact brute-force cosine top-50 against the vec_id=0 query — the
#: oracle for sim_cosine_topk AND (rank-annotated, with all-TRUE
#: dominance/recall booleans appended) for sim_ivf_topk's
#: self-verifying form.
_SIM_COSINE_SQL = """
    WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
    pairs AS (
      SELECT e.vec_id,
             unnest(e.embedding) AS x,
             unnest(q.qv) AS y
      FROM embeddings e, q
      WHERE e.vec_id <> 0
    ),
    dots AS (
      SELECT vec_id,
             SUM(CAST(CAST(x AS DOUBLE) * CAST(y AS DOUBLE) AS DECIMAL(28,14))) AS dot,
             SUM(CAST(CAST(x AS DOUBLE) * CAST(x AS DOUBLE) AS DECIMAL(28,14))) AS na,
             SUM(CAST(CAST(y AS DOUBLE) * CAST(y AS DOUBLE) AS DECIMAL(28,14))) AS nb
      FROM pairs
      GROUP BY vec_id
    )
    SELECT vec_id,
           round(CAST(dot AS DOUBLE)
             / (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE))), 6) AS cosine_sim
    FROM dots
    WHERE na > 0 AND nb > 0
    ORDER BY cosine_sim DESC, vec_id
    LIMIT 50
    """


@query("sim_cosine_topk", oracle=_SIM_COSINE_SQL)
def sim_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k against a broadcast query vector
    (vec_id=0) — the exact baseline for ANN. Array-native ``zip_with``/
    ``aggregate``: no explode, no shuffle except the final top-k, which
    is a TakeOrdered (per-partition heap + driver merge), not a global
    sort. The decimal-summed dot product makes the score reproducible
    bit-for-bit at any parallelism."""
    emb = load_spread(spark, sf_dir, "embeddings")
    # query norm is a constant: compute it ONCE in the broadcast side
    # instead of re-folding the query vector for every corpus row.
    # Zero-norm vectors (on either side) are excluded by policy — the
    # zero vector has no direction to rank, and the guard keeps ANSI
    # DIVIDE_BY_ZERO out of the plan; the oracle's WHERE na>0 AND nb>0
    # applies the identical decimal-norm test.
    qvec = (
        emb.filter(F.col("vec_id") == 0)
        .select(
            F.col("embedding").alias("qv"),
            F.sqrt(
                _dot(F.col("embedding"), F.col("embedding")).cast("double")
            ).alias("qnorm"),
        )
        .filter(F.col("qnorm") > 0)
    )
    scored = (
        emb.filter(F.col("vec_id") != 0)
        .select(
            "vec_id",
            "embedding",
            F.sqrt(
                _dot(F.col("embedding"), F.col("embedding")).cast("double")
            ).alias("__norm"),
        )
        .filter(F.col("__norm") > 0)
        .join(F.broadcast(qvec))
        .select(
            "vec_id",
            F.round(
                _dot(F.col("embedding"), F.col("qv")).cast("double")
                / (F.col("__norm") * F.col("qnorm")),
                6,
            ).alias("cosine_sim"),
        )
    )
    return scored.orderBy(F.col("cosine_sim").desc(), "vec_id").limit(50)


# --------------------------------------------------------------------------
# near-duplicate detection + multimodal plumbing
# --------------------------------------------------------------------------


#: Exact 3-shingle Jaccard pairs at threshold 0.5 — the oracle for BOTH
#: the exact query (d2) and the LSH-verified query (d3v): if the
#: approximate candidate stage loses any true pair, d3v's hash match
#: fails, so a green d3v row PROVES full LSH recall on the test corpus.
_D2_CTES = """toks AS (
      SELECT doc_id, regexp_extract_all(text, '\\S+') AS t FROM documents
    ),
    shingles AS (
      SELECT DISTINCT doc_id,
             concat_ws(' ', t[i], t[i+1], t[i+2]) AS shingle
      FROM toks, UNNEST(range(1, greatest(len(t) - 1, 1))) AS u(i)
    ),
    sizes AS (SELECT doc_id, count(*) AS set_size FROM shingles GROUP BY 1),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
      FROM shingles a JOIN shingles b USING (shingle)
      WHERE a.doc_id < b.doc_id
      GROUP BY 1, 2
    )"""

_D2_SELECT = """SELECT doc_a, doc_b,
           CAST(inter AS DOUBLE) / (sa.set_size + sb.set_size - inter) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE CAST(inter AS DOUBLE) / (sa.set_size + sb.set_size - inter) >= 0.5"""

_D2_EXACT_SQL = f"""
    WITH {_D2_CTES}
    {_D2_SELECT}
    """

#: Capped (df <= 20, stop-shingle-pruned) twin of the d2 fragments —
#: the 100 TB-shaped pair graph. Shared by d2b AND the cluster-level
#: consumers (d6 components, split2 leakage-safe split) so every
#: downstream oracle applies the IDENTICAL cap the Spark plan does.
_D2B_CTES = """toks AS (
      SELECT doc_id, regexp_extract_all(text, '\\S+') AS t FROM documents
    ),
    shingles AS (
      SELECT DISTINCT doc_id,
             concat_ws(' ', t[i], t[i+1], t[i+2]) AS shingle
      FROM toks, UNNEST(range(1, greatest(len(t) - 1, 1))) AS u(i)
    ),
    freq AS (SELECT shingle, count(*) AS df FROM shingles GROUP BY 1),
    capped AS (
      SELECT s.doc_id, s.shingle
      FROM shingles s JOIN freq USING (shingle)
      WHERE freq.df <= 20
    ),
    sizes AS (SELECT doc_id, count(*) AS set_size FROM capped GROUP BY 1),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
      FROM capped a JOIN capped b USING (shingle)
      WHERE a.doc_id < b.doc_id
      GROUP BY 1, 2
    )"""

_D2B_SELECT = """SELECT doc_a, doc_b,
           CAST(inter AS DOUBLE) / (sa.set_size + sb.set_size - inter) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE CAST(inter AS DOUBLE) / (sa.set_size + sb.set_size - inter) >= 0.5"""


@query("d2_ngram_jaccard", oracle=_D2_EXACT_SQL)
def d2_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-word-shingle Jaccard near-dup pairs (threshold 0.5).
    One shuffle on the shingle key; at corpus scale the stop-shingle
    cap in :func:`...functions.dedup.ngram_jaccard_pairs` bounds the
    self-join fan-out (uncapped here to stay oracle-comparable)."""
    from ..functions.dedup import ngram_jaccard_pairs

    return ngram_jaccard_pairs(
        load(spark, sf_dir, "documents"),
        max_doc_freq=None,
        allow_quadratic=True,
    )


@query(
    "d6_dedup_clusters",
    oracle=f"""
    WITH RECURSIVE {_D2B_CTES},
    pairs AS ({_D2B_SELECT}),
    edges AS (
      SELECT doc_a, doc_b FROM pairs
      UNION
      SELECT doc_b AS doc_a, doc_a AS doc_b FROM pairs
    ),
    nodes AS (SELECT DISTINCT doc_a AS doc_id FROM edges),
    reach(doc_id, r) AS (
      SELECT doc_id, doc_id FROM nodes
      UNION
      SELECT e.doc_a, re.r FROM edges e JOIN reach re ON re.doc_id = e.doc_b
    ),
    comp AS (SELECT doc_id, MIN(r) AS cluster_id FROM reach GROUP BY doc_id),
    csize AS (
      SELECT cluster_id, CAST(count(*) AS BIGINT) AS cluster_size
      FROM comp GROUP BY 1
    )
    SELECT c.doc_id, c.cluster_id, s.cluster_size,
           c.doc_id = c.cluster_id AS is_canonical
    FROM comp c JOIN csize s USING (cluster_id)
    """,
)
def d6_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup PAIRS → duplicate CLUSTERS → canonical doc: connected
    components over the exact-Jaccard pair graph (min-label
    propagation, O(diameter) rounds — dup clusters are dense cliques,
    so 1-3), with cluster_id = smallest member and ``is_canonical``
    marking the one doc per cluster a dedup pipeline keeps. The oracle
    recomputes components with a recursive CTE (transitive closure) —
    feasible exactly because the oracle corpus is small; the Spark
    side is the 100 TB shape (per-round groupBy + label join, no
    closure materialization).

    The pair graph comes from the CAPPED Jaccard path (d2b's
    ``max_doc_freq=20`` stop-shingle pruning — bounded to ≤ C(20,2)
    candidate rows per shingle) and the oracle applies the identical
    cap, so the plan contains no uncapped shingle self-join; the
    uncapped all-pairs form survives only where an oracle genuinely
    needs it as exact ground truth (d2 baseline, d3v recall proof).

    The completion of the dedup story: d2/d3 find the pairs, this op
    decides what to DROP."""
    from ..functions.dedup import connected_components, ngram_jaccard_pairs
    from pyspark import StorageLevel

    docs = load(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, max_doc_freq=20).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    comp = connected_components(pairs)
    csize = comp.groupBy("cluster_id").agg(
        F.count("*").alias("cluster_size")
    )
    return comp.join(csize, "cluster_id").select(
        "doc_id",
        "cluster_id",
        "cluster_size",
        (F.col("doc_id") == F.col("cluster_id")).alias("is_canonical"),
    )


@query(
    "d9_canonical_best",
    oracle=f"""
    WITH RECURSIVE {_D2B_CTES},
    pairs AS ({_D2B_SELECT}),
    edges AS (
      SELECT doc_a, doc_b FROM pairs
      UNION
      SELECT doc_b AS doc_a, doc_a AS doc_b FROM pairs
    ),
    nodes AS (SELECT DISTINCT doc_a AS doc_id FROM edges),
    reach(doc_id, r) AS (
      SELECT doc_id, doc_id FROM nodes
      UNION
      SELECT e.doc_a, re.r FROM edges e JOIN reach re ON re.doc_id = e.doc_b
    ),
    comp AS (SELECT doc_id, MIN(r) AS cluster_id FROM reach GROUP BY doc_id),
    labeled AS (
      SELECT d.doc_id, COALESCE(c.cluster_id, d.doc_id) AS cluster_id,
             d.n_chars
      FROM documents d LEFT JOIN comp c USING (doc_id)
    ),
    best AS (
      SELECT cluster_id, CAST(count(*) AS BIGINT) AS cluster_size,
             arg_max(doc_id, n_chars * 100000000000 - doc_id)
               AS canonical_doc
      FROM labeled GROUP BY 1
    )
    SELECT l.doc_id, l.cluster_id, b.cluster_size,
           l.doc_id = b.canonical_doc AS keep
    FROM labeled l JOIN best b USING (cluster_id)
    """,
)
def d9_canonical_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware canonical selection per near-dup cluster — the
    CCNet/RefinedWeb refinement of d6's keep-smallest-id rule: within
    each connected component of the capped-Jaccard pair graph, KEEP
    the highest-quality member (here: longest by ``n_chars``, the
    standard keep-longest heuristic; swap any scalar quality score —
    qc1's, a model score — into the same argmax) instead of an
    arbitrary one. Singleton docs are their own cluster and survive
    untouched. Output is one row per doc with its cluster label,
    cluster size, and the ``keep`` decision a dedup sink would apply.

    The argmax is an unordered count/max window over the cluster key
    (a composite integer order key: n_chars major, smallest-doc_id
    tiebreak — deterministic and replayed bit-exactly by DuckDB's
    ``arg_max``), so cluster size and the keep decision cost ONE
    shuffle on cluster_id after the component map — no groupBy +
    join-back, no per-cluster collect, no sort (both window frames
    are unbounded, evaluated as a running aggregate). Scale shape:
    pair graph and components are the bounded d6 plan; everything
    after is that single shuffle."""
    from ..functions.dedup import connected_components, ngram_jaccard_pairs
    from pyspark import StorageLevel

    docs = load(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, max_doc_freq=20).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    comp = connected_components(pairs)
    labeled = (
        docs.select("doc_id", "n_chars")
        .join(comp, "doc_id", "left_outer")
        .select(
            "doc_id",
            F.coalesce(F.col("cluster_id"), F.col("doc_id")).alias("cluster_id"),
            "n_chars",
        )
    )
    ord_key = F.col("n_chars") * F.lit(100000000000) - F.col("doc_id")
    w = Window.partitionBy("cluster_id")
    return labeled.select(
        "doc_id",
        "cluster_id",
        F.count("*").over(w).alias("cluster_size"),
        (ord_key == F.max(ord_key).over(w)).alias("keep"),
    )


@query(
    "d10_containment",
    oracle=f"""
    WITH {_D2B_CTES},
    cont AS (
      SELECT doc_a AS doc_sub, doc_b AS doc_sup,
             CAST(inter AS DOUBLE) / sa.set_size AS containment,
             sa.set_size AS sub_size
      FROM inter JOIN sizes sa ON sa.doc_id = doc_a
      UNION ALL
      SELECT doc_b AS doc_sub, doc_a AS doc_sup,
             CAST(inter AS DOUBLE) / sb.set_size AS containment,
             sb.set_size AS sub_size
      FROM inter JOIN sizes sb ON sb.doc_id = doc_b
    )
    SELECT doc_sub, doc_sup, round(containment, 6) AS containment
    FROM cont WHERE containment >= 0.8 AND sub_size >= 5
    """,
)
def d10_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ASYMMETRIC near-dup detection by shingle-set containment
    |A∩B| / |A| — the Broder (1997) resemblance/containment split
    that symmetric Jaccard cannot see: a short doc quoted wholesale
    inside a long one scores containment ≈ 1 while Jaccard stays tiny
    (|A∪B| is dominated by the long doc). This is the subset/quote/
    boilerplate-inclusion detector of a dedup pipeline; pairs are
    emitted DIRECTED (doc_sub ⊂ doc_sup) at containment ≥ 0.8, with
    sub_size ≥ 5 shingles so 1-shingle trivia can't fire it.

    Scale shape: the intersection counts come from the SAME capped
    pair machinery as d2b/d6 (stop-shingles with df > 20 dropped
    before pair enumeration, ≤ C(20, 2) candidates per shingle, no
    shingle self-join); both directions of each undirected pair are
    emitted by a 2-array explode of the one intersection row — the
    inter subtree is computed once, not unioned twice — and the
    per-doc set sizes join back on the sub-doc key only."""
    from ..functions.dedup import capped_pair_counts, exploded_shingles

    docs = load(spark, sf_dir, "documents")
    inter, sizes = capped_pair_counts(
        exploded_shingles(docs), max_doc_freq=20
    )
    both = inter.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("doc_a").alias("doc_sub"),
                    F.col("doc_b").alias("doc_sup"),
                    F.col("inter").alias("inter"),
                ),
                F.struct(
                    F.col("doc_b").alias("doc_sub"),
                    F.col("doc_a").alias("doc_sup"),
                    F.col("inter").alias("inter"),
                ),
            )
        ).alias("e")
    ).select("e.*")
    return (
        both.join(
            sizes.select(
                F.col("doc_id").alias("doc_sub"),
                F.col("set_size").alias("sub_size"),
            ),
            "doc_sub",
        )
        .filter(
            (F.col("sub_size") >= 5)
            & (F.col("inter").cast("double") / F.col("sub_size") >= 0.8)
        )
        .select(
            "doc_sub",
            "doc_sup",
            F.round(
                F.col("inter").cast("double") / F.col("sub_size"), 6
            ).alias("containment"),
        )
    )


@query("d3v_minhash_verified", oracle=_D2_EXACT_SQL)
def d3v_minhash_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production near-dup pipeline end-to-end: MinHash(32) LSH
    candidates exact-verified with true shingle Jaccard, threshold 0.5.

    Oracle is the EXACT all-pairs SQL (same as d2): a hash match means
    the approximate stage provably lost nothing on this corpus — the
    self-verifying form of the LSH path, where d3 alone is unverifiable
    in SQL (xxhash64 has no DuckDB twin). Candidate generation stays
    banded/bucketed (never corpus-quadratic) and verification cost is
    linear in candidate volume — the 100 TB shape.

    8 bands of 4 match the production d3 configuration (recall
    verified exact on the test corpora by this query's own hash
    match); a corpus with many pairs just above 0.5 would raise it to
    16 bands of 2 (≥99% recall at the threshold) at ~9× the candidate
    volume.
    """
    from ..functions.dedup import (
        exact_jaccard_for_pairs,
        lsh_candidate_pairs,
        minhash_signatures,
    )

    docs = load(spark, sf_dir, "documents")
    sigs = minhash_signatures(docs)
    cands = lsh_candidate_pairs(sigs, include_estimate=False)
    return exact_jaccard_for_pairs(docs, cands).filter(
        F.col("jaccard") >= 0.5
    )


@query(
    "d8_incremental_dedup",
    oracle=f"""
    WITH {_D2_CTES}
    {_D2_SELECT}
      AND (doc_a % 5 = 0 OR doc_b % 5 = 0)
    """,
)
def d8_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental (delta-vs-corpus) near-dup dedup — the DAILY-INGEST
    shape: docs with doc_id % 5 == 0 play the newly-arrived delta, and
    the query finds every exact-Jaccard pair (threshold 0.5) that
    TOUCHES the delta, skipping base×base entirely (those pairs were
    settled by yesterday's run). Candidates come from the asymmetric
    banded join (:func:`...functions.dedup.lsh_delta_candidate_pairs`:
    banded delta ⋈ banded corpus — work scales with |delta| × bucket
    occupancy, not corpus²), then exact verification, so like d3v the
    oracle is the exact all-pairs SQL restricted to delta-touching
    pairs: a hash match proves the incremental candidate stage lost no
    true pair. In production the base signatures are read from the
    signature store, so per-day cost is linear in the delta."""
    from ..functions.dedup import (
        exact_jaccard_for_pairs,
        lsh_delta_candidate_pairs,
        minhash_signatures,
    )

    docs = load(spark, sf_dir, "documents")
    sigs = minhash_signatures(docs)
    cands = lsh_delta_candidate_pairs(sigs, lambda c: c % 5 == 0)
    return exact_jaccard_for_pairs(docs, cands).filter(
        F.col("jaccard") >= 0.5
    )


#: The full MinHash(32)+LSH pipeline under the md5-derived cross-engine
#: hash family, replayed exactly in SQL — the oracle for d3m AND (with
#: an appended all-TRUE agreement column) for d3's xxhash-vs-md5
#: family-agreement form.
_D3M_SQL = f"""
    WITH toks AS (
      SELECT doc_id, regexp_extract_all(text, '\\S+') AS t FROM documents
    ),
    shingles AS (
      SELECT DISTINCT doc_id,
             concat_ws(' ', t[i], t[i+1], t[i+2]) AS shingle
      FROM toks, UNNEST(range(1, greatest(len(t) - 1, 1))) AS u(i)
    ),
    hx AS (SELECT doc_id, md5(shingle) AS h FROM shingles),
    hpair AS (
      SELECT doc_id,
             CAST({_ce_half("h", 1)} AS HUGEINT) AS h1,
             CAST({_ce_half("h", 17)} AS HUGEINT) AS h2
      FROM hx
    ),
    hv0 AS (
      SELECT doc_id, s.seed,
             ((h1 + s.seed * h2) % 18446744073709551616
              + 18446744073709551616) % 18446744073709551616 AS m
      FROM hpair, UNNEST(range(0, 32)) s(seed)
    ),
    hv AS (
      SELECT doc_id, seed,
             MIN(CAST(m - CASE WHEN m >= 9223372036854775808
                               THEN 18446744073709551616 ELSE 0 END
                      AS BIGINT)) AS mh
      FROM hv0 GROUP BY doc_id, seed
    ),
    sig AS (SELECT doc_id, list(mh ORDER BY seed) AS sig FROM hv GROUP BY doc_id),
    banded AS (
      SELECT doc_id, b AS band_id, sig[b*4+1:b*4+4] AS band
      FROM sig, UNNEST(range(0, 8)) u(b)
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM banded a JOIN banded b ON a.band_id = b.band_id AND a.band = b.band
      WHERE a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b,
           CAST(len(list_filter(range(1, 33), i -> sa.sig[i] = sb.sig[i]))
                AS DOUBLE) / 32 AS est_jaccard
    FROM cand
    JOIN sig sa ON sa.doc_id = doc_a
    JOIN sig sb ON sb.doc_id = doc_b
    WHERE CAST(len(list_filter(range(1, 33), i -> sa.sig[i] = sb.sig[i]))
               AS DOUBLE) / 32 >= 0.5
    """


@query("d3m_minhash_md5", oracle=_D3M_SQL)
def d3m_minhash_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(32) + 8-band LSH under the md5-derived cross-engine hash
    family — the ALGORITHM of d3, fully ORACLE-BACKED: DuckDB
    recomputes the identical signatures (Kirsch–Mitzenmacher
    ``(h1 + i·h2) mod 2^64`` over one md5 per shingle, exact
    decimal/HUGEINT arithmetic), the identical band buckets
    (slice-equality banding, no engine-specific band hash), and the
    identical agreement-fraction estimate. A hash match verifies the
    complete LSH pipeline bit-for-bit; d3 keeps xxhash64 for the
    production fast path."""
    from ..functions.dedup import lsh_candidate_pairs, minhash_signatures

    sigs = minhash_signatures(load(spark, sf_dir, "documents"), hash_family="md5")
    return lsh_candidate_pairs(sigs, band_key="slice").filter(
        F.col("est_jaccard") >= 0.5
    )


@query(
    "d3_minhash_lsh",
    oracle=f"""
    SELECT doc_a, doc_b, est_jaccard, TRUE AS families_agree
    FROM ({_D3M_SQL}) t
    """,
)
def d3_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(32) + 8-band LSH near-dup pairs, run through BOTH hash
    families in one query: the xxhash64 production path (the fast
    JVM-side family a cluster deployment uses) and the md5-derived
    cross-engine family (bit-exact SQL twin). Rows are the md5-family
    pairs with their exact est_jaccard; ``families_agree`` asserts the
    xxhash path found the same pair (or the pair sits in the excusable
    borderline band est < 0.6, where a 32-hash estimate can
    legitimately straddle the 0.5 threshold between families) AND that
    the xxhash path surfaced no extra non-borderline pair. The oracle
    replays the md5 pipeline and expects every boolean TRUE — a hash
    match is an external proof that the production family's candidate
    set equals the reproducible one, closing the last rows-only gap
    without hashing engine-internal xxhash values (planted near-dups
    sit at jaccard ≥ 0.8 ≫ 0.6, so the excuse band stays empty on
    healthy corpora).

    Scale shape: the two families are FUSED end-to-end into ONE
    LINEAR DAG — one shingle explode, ONE min-aggregation shuffle
    producing both signature sets
    (:func:`...functions.dedup.minhash_signatures_families`), ONE
    band-bucket self-join keyed on (family, band, bucket), and the
    family split happens as a conditional-max pivot in a single
    groupBy(doc_a, doc_b) instead of filtering the pair table twice
    and re-joining it to itself (round-5 verdict: the unfused
    two-plans-plus-agreement-join form regressed the bench
    1.94s → 5.03s; its persisted-pair diamond also let the broadcast
    branch race the main query for the cache). The only persisted
    intermediate is the signature table (3 consumers: band explode +
    both est re-attach sides). The extras count rides a
    single-partition window over the POST-REDUCTION pair table — by
    then the data is the near-dup pair set itself (already filtered
    to est ≥ 0.5 and collapsed per pair), the same
    orders-of-magnitude reduction any global audit bit needs; if a
    deployment's pair set outgrew one task, the drop-in twin is a
    1-row aggregate broadcast-crossJoined back (the dq1 shape)."""
    from pyspark.sql import Window

    from ..functions.dedup import _banded, minhash_signatures_families

    docs = load(spark, sf_dir, "documents")
    from pyspark import StorageLevel

    sigs = minhash_signatures_families(docs).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    # band_key="slice" for BOTH families: the md5 family needs
    # zero-collision banding for oracle parity, and sharing the key
    # shape is what lets one self-join serve both families.
    banded = _banded(sigs, "slice", "family")
    a = banded.select(
        F.col("doc_id").alias("doc_a"), "family", "band_id", "band_hash"
    )
    b = banded.select(
        F.col("doc_id").alias("doc_b"), "family", "band_id", "band_hash"
    )
    # no dropDuplicates between join and est attach: a pair colliding
    # in several bands carries ≤ bands duplicate rows into the (tiny,
    # AQE-broadcast) attach joins, and the final groupBy collapses
    # them anyway — one less shuffle than dedup-then-attach
    cand = a.join(b, ["family", "band_id", "band_hash"]).filter(
        F.col("doc_a") < F.col("doc_b")
    )
    sig_a = sigs.select(
        F.col("doc_id").alias("doc_a"), "family", F.col("sig").alias("sig_a")
    )
    sig_b = sigs.select(
        F.col("doc_id").alias("doc_b"), "family", F.col("sig").alias("sig_b")
    )
    est = F.size(
        F.filter(F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda e: e)
    ).cast("double") / F.size(F.col("sig_a"))
    scored = (
        cand.select("family", "doc_a", "doc_b")
        .join(sig_a, ["doc_a", "family"])
        .join(sig_b, ["doc_b", "family"])
        .select("family", "doc_a", "doc_b", est.alias("est"))
        .filter(F.col("est") >= 0.5)
    )
    agg = scored.groupBy("doc_a", "doc_b").agg(
        F.max(F.when(F.col("family") == "md5", F.col("est"))).alias(
            "est_jaccard"
        ),
        F.max(F.when(F.col("family") == "xxhash64", F.col("est"))).alias(
            "est_prod"
        ),
    )
    n_extra = F.sum(
        F.when(
            F.col("est_jaccard").isNull() & (F.col("est_prod") >= 0.6), 1
        ).otherwise(0)
    ).over(Window.partitionBy())
    return (
        agg.withColumn("n_extra", n_extra)
        .filter(F.col("est_jaccard").isNotNull())
        .select(
            "doc_a",
            "doc_b",
            "est_jaccard",
            (
                (F.col("est_prod").isNotNull() | (F.col("est_jaccard") < 0.6))
                & (F.col("n_extra") == 0)
            ).alias("families_agree"),
        )
    )


_CE_TOK = _CEH.format(h="md5(tok)")

#: md5-family simhash fingerprints + Hamming≤3 candidate pairs —
#: shared by d4 (candidates) and d4v (exact-Jaccard-verified form).
_D4_FP_CTES = f"""simtok AS (
      SELECT doc_id, unnest(regexp_extract_all(text, '\\S+')) AS tok
      FROM documents
    ),
    h AS (
      SELECT doc_id, {_CE_TOK} AS th FROM simtok
    ),
    votes AS (
      SELECT doc_id, i, SUM(CASE WHEN (th >> i) & 1 = 1 THEN 1 ELSE -1 END) AS v
      FROM h, UNNEST(range(0, 64)) u(i)
      GROUP BY 1, 2
    ),
    fp AS (
      SELECT doc_id,
             CAST(SUM(CASE WHEN v > 0 THEN
               CASE WHEN i = 63 THEN -9223372036854775808
                    ELSE (CAST(1 AS BIGINT) << CAST(i AS INTEGER)) END
               ELSE 0 END) AS BIGINT) AS simhash
      FROM votes GROUP BY 1
    ),
    simcand AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
      FROM fp a JOIN fp b ON a.doc_id < b.doc_id
      WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
    )"""


@query(
    "d4_simhash_neardup",
    oracle=f"""
    WITH {_D4_FP_CTES}
    SELECT doc_a, doc_b, hamming FROM simcand
    """,
)
def d4_simhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash64 banded near-dup pairs (Hamming ≤ 3), fully
    ORACLE-BACKED: the fingerprint's token hash is the md5-derived
    cross-engine family (:func:`...functions.dedup.ce_hash64`), so the
    DuckDB oracle recomputes the identical 64-bit simhash per doc —
    with the all-pairs join the banding provably equals (pigeonhole:
    Hamming ≤ 3 ⇒ some 16-bit band matches, and band equality never
    drops a pair)."""
    from ..functions.dedup import simhash_band_pairs

    return simhash_band_pairs(load(spark, sf_dir, "documents"))


@query(
    "d5_embedding_near_dup",
    oracle="""
    WITH sub AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 50 = 0),
    pairs AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             unnest(a.embedding) AS x, unnest(b.embedding) AS y
      FROM sub a JOIN sub b ON a.vec_id < b.vec_id
    ),
    dots AS (
      SELECT id_a, id_b,
             SUM(CAST(CAST(x AS DOUBLE) * CAST(y AS DOUBLE) AS DECIMAL(28,14))) AS dot,
             SUM(CAST(CAST(x AS DOUBLE) * CAST(x AS DOUBLE) AS DECIMAL(28,14))) AS na,
             SUM(CAST(CAST(y AS DOUBLE) * CAST(y AS DOUBLE) AS DECIMAL(28,14))) AS nb
      FROM pairs GROUP BY 1, 2
    )
    SELECT id_a, id_b,
           round(CAST(dot AS DOUBLE)
             / NULLIF(sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE)), 0), 6)
             AS cosine_sim
    FROM dots
    WHERE round(CAST(dot AS DOUBLE)
             / NULLIF(sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE)), 0), 6)
          >= 0.2
    """,
)
def d5_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs, exact, on a deterministic 1/50
    subsample (the oracle's all-pairs SQL is quadratic; the subsample
    keeps it honest at any sf). The production path for the full corpus
    is bucketed LSH (:func:`rp1_hyperplane_lsh`).

    Each vector's norm is computed once, before the pair join (the
    ``__norm`` precedent of sdd1): the join condition gets no
    common-subexpression rewrite, so :func:`...functions.similarity.
    cosine` there would fold both norms again for every pair. The
    score is the same expression, round(dot / nullif(na * nb, 0), 6),
    so the values are identical."""
    from ..functions.similarity import dot_decimal

    emb = load(spark, sf_dir, "embeddings").filter(F.col("vec_id") % 50 == 0)
    norm = F.sqrt(dot_decimal(F.col("embedding"), F.col("embedding")).cast("double"))
    a = emb.select(
        F.col("vec_id").alias("id_a"), F.col("embedding").alias("va"), norm.alias("na")
    )
    b = emb.select(
        F.col("vec_id").alias("id_b"), F.col("embedding").alias("vb"), norm.alias("nb")
    )
    cos = F.round(
        dot_decimal(F.col("va"), F.col("vb")).cast("double")
        / F.nullif(F.col("na") * F.col("nb"), F.lit(0.0)),
        6,
    )
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", cos.alias("cosine_sim"))
        .filter(F.col("cosine_sim") >= 0.2)
    )


_RP_PLANES = 12
_RP_DIMS = 64
_RP_TOP = 100
_RP_SIGN_SQL = (
    "CASE WHEN ((("
    + _CEH.format(
        h="md5('rp|'||CAST(p AS VARCHAR)||'|'||CAST(d AS VARCHAR))"
    )
    + ") % 2) + 2) % 2 = 1 THEN 1.0 ELSE -1.0 END"
)


@query(
    "rp1_hyperplane_lsh",
    oracle=f"""
    WITH signs AS (
      SELECT r1.range AS d, r2.range AS p, {_RP_SIGN_SQL} AS s
      FROM range({_RP_DIMS}) r1, range({_RP_PLANES}) r2
    ),
    pe AS (
      SELECT vec_id, unnest(embedding) AS x,
             generate_subscripts(embedding, 1) - 1 AS d
      FROM embeddings
    ),
    sums AS (
      SELECT vec_id, p,
             SUM(CAST(CAST(CAST(x AS DOUBLE) * s AS DECIMAL(28,14))
                      * 100000000000000 AS BIGINT)) AS sp
      FROM pe JOIN signs USING (d) GROUP BY 1, 2
    ),
    sig AS (
      SELECT vec_id,
             CAST(SUM(CASE WHEN sp > 0
                           THEN CAST(1 AS BIGINT) << p ELSE 0 END)
                  AS BIGINT) AS sig16
      FROM sums GROUP BY 1
    ),
    cand AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b
      FROM sig a JOIN sig b ON a.sig16 = b.sig16 AND a.vec_id < b.vec_id
    ),
    terms AS (
      SELECT c.id_a, c.id_b,
             unnest(ea.embedding) AS x, unnest(eb.embedding) AS y
      FROM cand c
      JOIN embeddings ea ON ea.vec_id = c.id_a
      JOIN embeddings eb ON eb.vec_id = c.id_b
    ),
    dots AS (
      SELECT id_a, id_b,
             SUM(CAST(CAST(x AS DOUBLE) * CAST(y AS DOUBLE)
                      AS DECIMAL(28,14))) AS dot,
             SUM(CAST(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)
                      AS DECIMAL(28,14))) AS na,
             SUM(CAST(CAST(y AS DOUBLE) * CAST(y AS DOUBLE)
                      AS DECIMAL(28,14))) AS nb
      FROM terms GROUP BY 1, 2
    )
    SELECT id_a, id_b,
           round(CAST(dot AS DOUBLE)
             / NULLIF(sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE)), 0),
             6) AS cosine_sim
    FROM dots
    ORDER BY cosine_sim DESC, id_a, id_b
    LIMIT {_RP_TOP}
    """,
)
def rp1_hyperplane_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane LSH over the FULL embedding corpus (Charikar
    2002 SimHash-for-vectors), fully ORACLE-BACKED: plane p's
    component for dimension d is ±1 from the parity of the md5-derived
    cross-engine hash of ``rp|p|d``, so DuckDB replays every one of
    the 12 signature bits bit-exactly, then the bucket join and the
    exact-cosine verification. Returns the top-100 verified bucket
    collisions by cosine (deterministic id tiebreak) — the top-k form
    keeps the op meaningful on corpora with no true near-dups (this
    synthetic one is near-orthogonal) while the LSH plumbing stays
    fully exercised and hash-checked — the d3m precedent applied to
    the embedding surface.

    Scale shape: the ±1 sign matrix is 64×12 rows built once and
    BROADCAST (never one md5 per element-row — that would be 12
    hashes per corpus element); the per-vector signed sums are one
    map-side-combinable groupBy over the element explode with BIGINT
    accumulators — each element is quantized ONCE through the
    cross-engine DECIMAL(28,14) rounding, then scaled to an exact
    integer, so the 12 running sums are order-independent long adds
    (measured 3× cheaper than carrying 128-bit decimal state through
    the aggregation) and both engines agree on every sign even at bit
    10⁻¹⁴; candidates come from an equi-join on the
    full 12-bit signature (collision probability falls as (1−θ/π)^12,
    so bucket occupancy — corpus/4096 in the orthogonal worst case —
    bounds fan-out), and only candidates pay the exact-cosine verify
    before the global top-k. Nothing is quadratic in the corpus; the
    recall/cost knob is n_planes."""
    from ..functions.dedup import ce_hash64

    emb = load(spark, sf_dir, "embeddings")
    signs = spark.range(_RP_DIMS).select(
        F.col("id").cast("int").alias("d"),
        *[
            F.when(
                ce_hash64(
                    F.concat(
                        F.lit(f"rp|{p}|"), F.col("id").cast("string")
                    )
                ).bitwiseAND(F.lit(1))
                == 1,
                F.lit(1.0),
            )
            .otherwise(F.lit(-1.0))
            .alias(f"s{p}")
            for p in range(_RP_PLANES)
        ],
    )
    # no repartition before this explode: measured A/B at sf0.1, the
    # extra exchange of the embedding arrays costs more than the
    # single-split element explode saves (the signed sums are cheap
    # per element, unlike dsir1's per-occurrence md5)
    pe = emb.select(
        "vec_id", F.posexplode("embedding").alias("d", "x")
    )
    sums = (
        pe.join(F.broadcast(signs), "d")
        .groupBy("vec_id")
        .agg(
            *[
                F.sum(
                    (
                        (F.col("x").cast("double") * F.col(f"s{p}")).cast(
                            "decimal(28,14)"
                        )
                        * F.lit(10**14)
                    ).cast("long")
                ).alias(f"sp{p}")
                for p in range(_RP_PLANES)
            ]
        )
    )
    sig_expr = " + ".join(
        f"IF(sp{p} > 0, shiftleft(1L, {p}), 0L)" for p in range(_RP_PLANES)
    )
    from pyspark import StorageLevel

    # both sides of the bucket self-join read the signature table —
    # persist it or the element explode + 12-sum aggregation runs
    # twice (the d3 signature-persist precedent; released by the
    # session-level cache clear between registry queries)
    sig = sums.select("vec_id", F.expr(f"{sig_expr} AS sig16")).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    a = sig.select(F.col("vec_id").alias("id_a"), "sig16")
    b = sig.select(F.col("vec_id").alias("id_b"), "sig16")
    cand = a.join(b, "sig16").filter(F.col("id_a") < F.col("id_b"))
    ea = emb.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("va"))
    eb = emb.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("vb"))
    from ..functions.similarity import cosine

    return (
        cand.join(ea, "id_a")
        .join(eb, "id_b")
        .select(
            "id_a",
            "id_b",
            cosine(F.col("va"), F.col("vb")).alias("cosine_sim"),
        )
        .orderBy(F.desc("cosine_sim"), "id_a", "id_b")
        .limit(_RP_TOP)
    )


@query(
    "m1_binary_features",
    oracle="""
    SELECT doc_id,
           CAST(octet_length(encode(text)) AS INTEGER) AS n_bytes,
           md5(text) AS content_id
    FROM documents
    """,
)
def m1_binary_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing, end-to-end: text bytes stand in for an
    opaque media payload; features flow through an Arrow-batched
    mapInPandas stage (the real decode hook) and are checked against a
    plain SQL oracle."""
    from ..functions.multimodal import documents_as_media, extract_binary_features

    return extract_binary_features(documents_as_media(load(spark, sf_dir, "documents")))


@query(
    "g8_stats_moments",
    oracle="""
    WITH s AS (
      SELECT l_returnflag,
             CAST(count(*) AS BIGINT) AS n,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sx,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sy,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))
                      * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sxx,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                      * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS syy,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))
                      * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sxy
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag, n,
           CASE WHEN n >= 2
                THEN round((sxx - sx * sx / n) / (n - 1), 6)
           END AS var_qty,
           CASE WHEN n >= 2
                THEN round((sxy - sx * sy / n) / (n - 1), 6)
           END AS covar_qty_price,
           CASE WHEN n >= 2 AND sxx - sx * sx / n > 0
                     AND syy - sy * sy / n > 0
                THEN round((sxy - sx * sy / n)
                      / (sqrt(sxx - sx * sx / n) * sqrt(syy - sy * sy / n)),
                      6)
           END AS corr_qty_price
    FROM s
    """,
)
def g8_stats_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregates (variance / covariance / correlation)
    computed from EXACT decimal power sums, not the builtin
    var_samp/corr: the builtins accumulate doubles in partition order,
    so their last-ulp bits differ run-to-run and engine-to-engine —
    the decimal-moments form is the reproducible way to ship
    statistics from a distributed engine. One aggregation pass, all
    five moments share the shuffle."""
    li = load_spread(spark, sf_dir, "lineitem")
    q = F.col("l_quantity").cast("decimal(18,2)")
    p = F.col("l_extendedprice").cast("decimal(18,2)")
    s = li.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        F.sum(q).cast("double").alias("sx"),
        F.sum(p).cast("double").alias("sy"),
        F.sum(q * q).cast("double").alias("sxx"),
        F.sum(p * p).cast("double").alias("syy"),
        F.sum(q * p).cast("double").alias("sxy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxx, syy, sxy = F.col("sxx"), F.col("syy"), F.col("sxy")
    # single-row groups have no sample variance; zero-variance groups
    # have no correlation — NULL (oracle's CASE twin), never an ANSI
    # DIVIDE_BY_ZERO; both engines evaluate the identical double
    # guards, so the NULL decisions agree bit-for-bit
    return s.select(
        "l_returnflag",
        "n",
        F.when(n >= 2, F.round((sxx - sx * sx / n) / (n - 1), 6)).alias(
            "var_qty"
        ),
        F.when(n >= 2, F.round((sxy - sx * sy / n) / (n - 1), 6)).alias(
            "covar_qty_price"
        ),
        F.when(
            (n >= 2) & (sxx - sx * sx / n > 0) & (syy - sy * sy / n > 0),
            F.round(
                (sxy - sx * sy / n)
                / (F.sqrt(sxx - sx * sx / n) * F.sqrt(syy - sy * sy / n)),
                6,
            ),
        ).alias("corr_qty_price"),
    )


@query(
    "r1_incremental_rollup",
    oracle="""
    WITH ev AS (SELECT CAST(ts AS TIMESTAMP) AS ts, event_type, value FROM events)
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value,
           max(value) AS max_value
    FROM ev GROUP BY event_type
    """,
)
def r1_incremental_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-aggregate maintenance: the events table arrives as
    three month-ish batches; each is aggregated to mergeable partial
    state and merged into the rollup — history is NEVER re-scanned
    (per-refresh cost is O(batch + touched groups), the only strategy
    that survives 100 TB of history). The oracle aggregates the whole
    table directly: a hash match proves fold(batches) == full
    recompute, decimal-exact."""
    from ..operators.rollup import merge_rollup, partial_rollup

    ev = load(spark, sf_dir, "events").select(
        "ts", "event_type", F.col("value").cast("decimal(18,6)").alias("value")
    )
    cuts = ["2024-02-01 00:00:00", "2024-03-01 00:00:00"]
    batches = [
        ev.filter(F.col("ts") < cuts[0]),
        ev.filter((F.col("ts") >= cuts[0]) & (F.col("ts") < cuts[1])),
        ev.filter(F.col("ts") >= cuts[1]),
    ]
    measures = {
        "n_events": ("count", "*"),
        "total_value": ("sum", "value"),
        "max_value": ("max", "value"),
    }
    rollup = None
    for b in batches:
        rollup = merge_rollup(
            rollup, partial_rollup(b, ["event_type"], measures),
            ["event_type"], measures,
        )
    return rollup.select(
        "event_type",
        "n_events",
        F.col("total_value").cast("double").alias("total_value"),
        F.col("max_value").cast("double").alias("max_value"),
    )


@query(
    "f6_funnel",
    oracle="""
    WITH ev AS (SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts,
                       event_id FROM events),
    stages AS (
      SELECT user_id,
             MIN(CASE WHEN event_type = 'view' THEN ts END) AS first_view,
             MIN(CASE WHEN event_type = 'click' THEN ts END) AS first_click,
             MIN(CASE WHEN event_type = 'purchase' THEN ts END)
               AS first_purchase
      FROM ev GROUP BY user_id
    )
    SELECT CAST(count(*) AS BIGINT) AS n_users,
           CAST(SUM(CASE WHEN first_view IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS viewed,
           CAST(SUM(CASE WHEN first_click > first_view THEN 1 ELSE 0 END)
                AS BIGINT) AS clicked_after_view,
           CAST(SUM(CASE WHEN first_purchase > first_click
                          AND first_click > first_view
                         THEN 1 ELSE 0 END) AS BIGINT)
             AS purchased_after_funnel
    FROM stages
    """,
)
def f6_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Funnel analysis (view → click → purchase, strictly ordered by
    first occurrence): one conditional-MIN aggregation per user, then
    1-row stage counting — no self-joins, no per-stage scans; the
    three-valued NULL comparisons drop users missing a stage exactly
    as SQL does. One shuffle total."""
    ev = load(spark, sf_dir, "events")
    first_of = lambda t: F.min(F.when(F.col("event_type") == t, F.col("ts")))
    stages = ev.groupBy("user_id").agg(
        first_of("view").alias("first_view"),
        first_of("click").alias("first_click"),
        first_of("purchase").alias("first_purchase"),
    )
    flag = lambda c: F.sum(F.when(c, 1).otherwise(0))
    return stages.agg(
        F.count("*").alias("n_users"),
        flag(F.col("first_view").isNotNull()).alias("viewed"),
        flag(F.col("first_click") > F.col("first_view")).alias(
            "clicked_after_view"
        ),
        flag(
            (F.col("first_purchase") > F.col("first_click"))
            & (F.col("first_click") > F.col("first_view"))
        ).alias("purchased_after_funnel"),
    )


@query(
    "g9_mode",
    oracle="""
    WITH c AS (
      SELECT l_returnflag, l_quantity, CAST(count(*) AS BIGINT) AS cnt
      FROM lineitem GROUP BY 1, 2
    )
    SELECT l_returnflag,
           arg_min(l_quantity,
                   -cnt * 128 + CAST(l_quantity AS BIGINT)) AS mode_qty,
           CAST(max(cnt) AS BIGINT) AS mode_count
    FROM c GROUP BY l_returnflag
    """,
)
def g9_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic MODE (most frequent value, smallest value wins
    ties): count per (group, value), then an argmin over the single
    integer key ``-cnt*128 + value`` — builtin mode() breaks ties
    arbitrarily in both engines, so it can never hash-match; the
    encoded-key argmin is exact. Two aggregations sharing one shuffle
    chain, both map-side combined.

    PRECONDITION of the encoding: it is collision-free only while
    ``0 <= value < 128`` (l_quantity is 1..50 here). Reusing the
    pattern on a wider or negative-valued column needs a multiplier
    strictly larger than the value domain — or sidestep the encoding
    entirely with a struct-ordered key, as sim_ivfm_topk does (DuckDB's
    arg_min cannot take composite keys, hence the integer form)."""
    li = load(spark, sf_dir, "lineitem")
    c = li.groupBy("l_returnflag", "l_quantity").agg(F.count("*").alias("cnt"))
    key = -F.col("cnt") * 128 + F.col("l_quantity").cast("bigint")
    return c.groupBy("l_returnflag").agg(
        F.min_by("l_quantity", key).alias("mode_qty"),
        F.max("cnt").alias("mode_count"),
    )


@query(
    "t7_text_clean",
    oracle="""
    SELECT doc_id,
           trim(regexp_replace(
                regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
                ' +', ' ', 'g')) AS clean_text
    FROM documents
    """,
)
def t7_text_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text normalization for dedup/training: lowercase → strip
    non-alphanumerics → collapse whitespace → trim. Pure JVM regex
    chain, zero shuffle — the canonical pre-tokenization cleaning
    stage (t3's fingerprint hashes exactly this form)."""
    return load(spark, sf_dir, "documents").select(
        "doc_id",
        F.trim(
            F.regexp_replace(
                F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9 ]", " "),
                " +",
                " ",
            )
        ).alias("clean_text"),
    )


@query(
    "c1_chunk_text",
    oracle="""
    WITH c AS (
      SELECT doc_id, CAST(i AS INTEGER) AS chunk_idx,
             CAST(i * 150 AS BIGINT) AS chunk_off,
             substr(text, CAST(i * 150 + 1 AS INTEGER), 200) AS chunk
      FROM documents,
           UNNEST(range(0, CAST(floor((length(text) - 1) / 150) + 1 AS BIGINT)))
             u(i)
    )
    SELECT doc_id, chunk_idx, chunk_off, chunk,
           CAST(length(chunk) AS INTEGER) AS n_chunk_chars
    FROM c
    """,
)
def c1_chunk_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping text chunking (size 200, stride 150 → 50-char
    overlap) — the chunker in front of every embedding pipeline:
    overlap keeps sentences that straddle a boundary retrievable from
    both sides. A narrow posexplode of computed offsets, no shuffle,
    no Python; every chunk start < doc length, so short docs yield
    exactly one chunk and empty docs none."""
    docs = load(spark, sf_dir, "documents")
    n_chunks = F.floor((F.length("text") - 1) / 150) + 1
    idx = F.when(
        F.length("text") > 0,
        F.sequence(F.lit(0).cast("long"), (n_chunks - 1).cast("long")),
    ).otherwise(F.array().cast("array<long>"))
    return (
        docs.select("doc_id", "text", idx.alias("__idx"))
        .filter(F.size("__idx") > 0)
        .select("doc_id", "text", F.explode("__idx").alias("chunk_idx"))
        .select(
            "doc_id",
            F.col("chunk_idx").cast("int").alias("chunk_idx"),
            (F.col("chunk_idx") * 150).cast("long").alias("chunk_off"),
            F.substring(
                F.col("text"), (F.col("chunk_idx") * 150 + 1).cast("int"), 200
            ).alias("chunk"),
        )
        .withColumn("n_chunk_chars", F.length("chunk"))
    )


@query(
    "t9_vocab_topk",
    oracle="""
    WITH toks AS (
      SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS token
      FROM documents
    )
    SELECT token, CAST(count(*) AS BIGINT) AS freq
    FROM toks GROUP BY token
    ORDER BY freq DESC, token
    LIMIT 100
    """,
)
def t9_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary construction: top-100 normalized tokens by corpus
    frequency — the first step of tokenizer training / stopword
    derivation. Explode → one map-side-combined count → TakeOrdered
    heap (never a global sort); frequency ties break on the token so
    the cut is deterministic."""
    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(
            F.regexp_extract_all(F.lower("text"), F.lit("[a-z0-9]+"), 0)
        ).alias("token")
    )
    return (
        toks.groupBy("token")
        .agg(F.count("*").alias("freq"))
        .orderBy(F.col("freq").desc(), "token")
        .limit(100)
    )


@query(
    "g10_histogram",
    oracle="""
    SELECT CAST(floor(o_totalprice / 50000) AS BIGINT) AS bin,
           CAST(floor(o_totalprice / 50000) * 50000 AS DOUBLE) AS bin_lo,
           CAST(count(*) AS BIGINT) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             AS bin_total
    FROM orders
    GROUP BY 1, 2
    """,
)
def g10_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram by integer bin arithmetic (floor(x/w)) —
    one map-side-combined aggregation, no sort, and the binning
    expression is engine-portable where width_bucket semantics are
    not. The shape behind every distribution dashboard at scale."""
    orders = load(spark, sf_dir, "orders")
    bin_ = F.floor(F.col("o_totalprice") / 50000)
    return (
        orders.groupBy(
            bin_.alias("bin"), (bin_ * 50000).cast("double").alias("bin_lo")
        )
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("bin_total"),
        )
    )


@query(
    "r2_cohort_retention",
    oracle="""
    WITH ev AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
    cohort AS (
      SELECT user_id, date_trunc('month', min(ts)) AS cohort_month
      FROM ev GROUP BY user_id
    ),
    activity AS (
      SELECT DISTINCT user_id, date_trunc('month', ts) AS active_month
      FROM ev
    )
    SELECT c.cohort_month,
           CAST(datediff('month', c.cohort_month, a.active_month)
                AS INTEGER) AS months_since,
           CAST(count(*) AS BIGINT) AS n_active
    FROM cohort c JOIN activity a USING (user_id)
    GROUP BY 1, 2
    """,
)
def r2_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention: users grouped by first-activity month, counted
    in every later month they return — the (cohort × month-offset)
    matrix behind every retention dashboard. Two aggregations sharing
    the user_id shuffle key, then a key join (both sides already
    hash-partitioned on user_id — no extra exchange) and one final
    group-by."""
    ev = load(spark, sf_dir, "events").select(
        "user_id", F.date_trunc("month", "ts").alias("month")
    )
    cohort = ev.groupBy("user_id").agg(F.min("month").alias("cohort_month"))
    activity = ev.distinct().withColumnRenamed("month", "active_month")
    months_since = (
        (F.year("active_month") - F.year("cohort_month")) * 12
        + F.month("active_month")
        - F.month("cohort_month")
    )
    return (
        cohort.join(activity, "user_id")
        .groupBy("cohort_month", months_since.cast("int").alias("months_since"))
        .agg(F.count("*").alias("n_active"))
    )


@query(
    "t8_pii_redact",
    oracle="""
    SELECT doc_id,
           regexp_replace(
             regexp_replace(
               regexp_replace(text,
                 '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}',
                 '<EMAIL>', 'g'),
               '[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}', '<PHONE>', 'g'),
             '[0-9]{13,19}', '<CARD>', 'g') AS redacted,
           CAST(length(text) -
                length(regexp_replace(text,
                  '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '', 'g'))
                > 0 AS BOOLEAN) AS had_email,
           CAST(length(text) -
                length(regexp_replace(text,
                  '[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}', '', 'g'))
                > 0 AS BOOLEAN) AS had_phone,
           CAST(length(text) -
                length(regexp_replace(text, '[0-9]{13,19}', '', 'g'))
                > 0 AS BOOLEAN) AS had_card
    FROM documents
    """,
)
def t8_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction — the compliance stage of a training-data
    pipeline: email / phone / long-digit-run (card-like) patterns
    replaced with typed placeholders, plus one per-doc flag PER
    pattern (all computed on the ORIGINAL text, so a phone-only or
    card-only doc is still routable to quarantine). Pure JVM regex
    chain (patterns restricted to Java/RE2-identical constructs), zero
    shuffle; on a clean corpus this is a provable no-op, which the
    oracle hash-match confirms either way."""
    email = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
    phone = r"[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}"
    card = r"[0-9]{13,19}"
    t = F.col("text")

    def had(pat: str) -> Column:
        return F.length(t) - F.length(F.regexp_replace(t, pat, "")) > 0

    return load(spark, sf_dir, "documents").select(
        "doc_id",
        F.regexp_replace(
            F.regexp_replace(
                F.regexp_replace(t, email, "<EMAIL>"), phone, "<PHONE>"
            ),
            card,
            "<CARD>",
        ).alias("redacted"),
        had(email).alias("had_email"),
        had(phone).alias("had_phone"),
        had(card).alias("had_card"),
    )


@query(
    "m2_frame_sample",
    oracle="""
    WITH f AS (
      SELECT doc_id, CAST(i AS INTEGER) AS frame_idx,
             CAST(i * 256 AS BIGINT) AS frame_off,
             substr(text, CAST(i * 256 + 1 AS INTEGER), 256) AS frame
      FROM documents,
           UNNEST(range(0, CAST(floor(length(text) / 256) AS BIGINT))) u(i)
    )
    SELECT doc_id, frame_idx, frame_off,
           md5(frame) AS frame_sig,
           CAST(length(frame) AS INTEGER) AS n_frame_bytes
    FROM f
    """,
)
def m2_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal frame-sampling plumbing: each payload expands into
    fixed-stride frames via posexplode of a computed index sequence
    (the VIDEO pattern — a narrow generate, no shuffle; the per-frame
    decode hook is the same stubbed mapInPandas stage as m1). The
    document text stands in for the byte payload as in m1; per-frame
    fingerprints + lengths give the oracle an exact row-per-frame
    comparison."""
    from ..functions.multimodal import frame_sample

    docs = load(spark, sf_dir, "documents").select(
        "doc_id", F.col("text").alias("payload")
    )
    frames = frame_sample(docs, frame_bytes=256)
    return frames.select(
        "doc_id",
        "frame_idx",
        "frame_off",
        F.md5("frame").alias("frame_sig"),
        F.length("frame").alias("n_frame_bytes"),
    )


@query(
    "e3_sliding_window",
    oracle="""
    WITH ev AS (SELECT CAST(ts AS TIMESTAMP) AS ts, event_type, value FROM events),
    slotted AS (
      SELECT
        -- each event belongs to 2 overlapping 1h windows on a 30min slide:
        -- starts at the two 30-min marks in (ts-1h, ts]
        CAST(to_timestamp((CAST(floor(epoch(ts) / 1800) AS BIGINT) - u.i) * 1800)
             AS TIMESTAMP) AS window_start,
        event_type, value
      FROM ev, UNNEST([0, 1]) AS u(i)
    )
    SELECT window_start,
           window_start + INTERVAL 1 HOUR AS window_end,
           event_type,
           count(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
    FROM slotted
    GROUP BY 1, 2, 3
    """,
)
def e3_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding 1-hour window, 30-minute slide: every event lands in two
    windows. The oracle enumerates the two slots per event explicitly;
    Spark's ``window(ts, '1 hour', '30 minutes')`` does the same
    expansion inside the operator."""
    out = (
        load(spark, sf_dir, "events")
        .groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)"))
            .cast("double")
            .alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "total_value",
        )
    )
    return out


@query(
    "g3_quantiles",
    oracle="""
    SELECT l_returnflag,
           round(quantile_cont(l_extendedprice, 0.5), 4) AS median_price,
           round(quantile_cont(l_extendedprice, 0.95), 4) AS p95_price,
           count(*) AS n
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def g3_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated quantiles (percentile ≡ quantile_cont: both
    use lower + (upper-lower)*fraction on the sorted values, rounded to
    absorb engine-side arithmetic-order ulps). percentile_approx is the
    sketch variant for 100 TB — same plan shape, not oracle-exact, so
    the exact form is registered."""
    return (
        load_spread(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.round(F.percentile("l_extendedprice", F.lit(0.5)), 4).alias(
                "median_price"
            ),
            F.round(F.percentile("l_extendedprice", F.lit(0.95)), 4).alias(
                "p95_price"
            ),
            F.count("*").alias("n"),
        )
    )


@query(
    "t4_tfidf",
    oracle="""
    WITH toks AS (
      SELECT doc_id, unnest(regexp_extract_all(text, '\\S+')) AS token
      FROM documents
    ),
    tf AS (SELECT doc_id, token, count(*) AS tf FROM toks GROUP BY 1, 2),
    df AS (SELECT token, count(DISTINCT doc_id) AS df FROM toks GROUP BY 1),
    n AS (SELECT count(*) AS n_docs FROM documents)
    SELECT tf.doc_id, tf.token, tf.tf,
           round(tf.tf * ln((n.n_docs + 1.0) / (df.df + 1.0)), 6) AS tfidf
    FROM tf JOIN df USING (token) CROSS JOIN n
    """,
)
def t4_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF over whitespace tokens: tf × ln((N+1)/(df+1)), smoothed.
    Two aggregations share the exploded-token shuffle key. The df→tf
    join carries NO broadcast hint: at web-corpus scale the vocabulary
    table can exceed broadcast limits, and both sides are already
    hash-partitioned on ``token`` from their aggregations — AQE
    broadcasts it only when it is actually small. N folds in as a
    1-row aggregate cross join (always broadcast-sized) instead of a
    driver-side ``count()`` action during plan construction. ln()
    rounded to 6 — libm implementations may differ in the last ulp
    across engines."""
    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.explode(F.regexp_extract_all(F.col("text"), F.lit(r"\S+"), 0)).alias(
            "token"
        ),
    )
    tf = toks.groupBy("doc_id", "token").agg(F.count("*").alias("tf"))
    df = toks.groupBy("token").agg(F.countDistinct("doc_id").alias("df"))
    n = docs.agg(F.count("*").alias("__n_docs"))
    return (
        tf.join(df, "token")
        .join(F.broadcast(n))
        .select(
            "doc_id",
            "token",
            "tf",
            F.round(
                F.col("tf")
                * F.log((F.col("__n_docs") + 1.0) / (F.col("df") + 1.0)),
                6,
            ).alias("tfidf"),
        )
    )


@query(
    "g6_approx_sketches",
    oracle="""
    SELECT l_returnflag,
           count(DISTINCT l_partkey) AS n_parts,
           round(quantile_cont(l_extendedprice, 0.5), 4) AS median_price,
           count(*) AS n_rows,
           TRUE AS hll_ok,
           TRUE AS approx_median_ok
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def g6_approx_sketches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch aggregates — the 100 TB substitutes for exact
    countDistinct (g4) and exact quantiles (g3): HyperLogLog++ and
    KLL-style quantile sketches are mergeable, so they combine
    map-side and never shuffle raw values.

    SELF-VERIFYING oracle form: sketch internals are engine-specific
    (DuckDB cannot replay Spark's HLL/KLL bit-for-bit), so the query
    joins each sketch to its exact counterpart IN the same aggregation
    and surfaces bounded-error BOOLEANS next to the exact values; the
    oracle computes the exact side and literal TRUE for the booleans.
    A sketch drifting outside its documented bound (HLL beyond 5× rsd,
    approx-median outside the exact p45–p55 rank band) flips a boolean
    to false and fails the hash match — the tolerance test is part of
    the correctness gate, not a separate weaker check.

    The exact-percentile verify arms buffer every value, so the
    map-side insert cost is the heavy stage — spread the often
    single-row-group scan across cores first (the _md5_ivf_parts
    precedent; measured 6.9s → 5.4s at sf0.1, spread halved).

    PLAN TRAP, fixed 2026-08-15: mixing ``countDistinct`` into the
    same ``agg`` as the percentile arms makes Catalyst plan an Expand
    (one row copy per distinct-group id) and run the FIRST aggregate
    keyed on ``(l_returnflag, l_partkey, gid)`` — so every exact
    percentile buffer was being built and merged across ~20k
    per-partkey groups instead of 3 per-flag groups. Splitting the
    exact distinct count into its own two-phase groupBy (map-side
    combinable) and folding the three exact percentiles into ONE
    array-argument call cut the interleaved same-JVM A/B from
    5.0–5.7s to 2.2s at sf0.1 (identical rows). The remaining floor
    is the per-group final percentile merge, inherent to exact
    percentile — the sketches being verified are precisely the
    100 TB replacement for it."""
    # UNCONDITIONAL repartition kept on purpose (not spread_if_narrow,
    # r13): approx sketch states (HLL/percentile) merge in partition
    # order, so the partition layout is pinned for run-to-run
    # comparability rather than made size-adaptive.
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
    li = (
        load(spark, sf_dir, "lineitem")
        .select("l_returnflag", "l_partkey", "l_extendedprice")
        .repartition(n_part)
    )
    # exact distinct as its own two-phase aggregate: keeps the Expand
    # (and its per-partkey percentile buffers) out of the verify agg.
    # NULL partkeys are filtered so the two-phase form stays equal to
    # COUNT(DISTINCT l_partkey), which never counts a NULL group.
    exact = (
        li.filter(F.col("l_partkey").isNotNull())
        .groupBy("l_returnflag", "l_partkey")
        .agg(F.lit(1))
        .groupBy("l_returnflag")
        .agg(F.count("*").alias("n_parts"))
        .withColumnRenamed("l_returnflag", "__flag")
    )
    g = li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_partkey", rsd=0.02).alias("__hll"),
        F.percentile(
            "l_extendedprice", F.array(F.lit(0.45), F.lit(0.5), F.lit(0.55))
        ).alias("__pcts"),
        F.percentile_approx("l_extendedprice", F.lit(0.5), F.lit(10000)).alias(
            "__amed"
        ),
        F.count("*").alias("n_rows"),
    )
    # NULL-safe left join keeps a NULL-returnflag group (oracle keeps
    # it, with COUNT(DISTINCT)=0 when its partkeys are all NULL).
    return g.join(
        F.broadcast(exact),
        F.col("l_returnflag").eqNullSafe(F.col("__flag")),
        "left",
    ).select(
        "l_returnflag",
        F.coalesce(F.col("n_parts"), F.lit(0)).alias("n_parts"),
        F.round(F.col("__pcts")[1], 4).alias("median_price"),
        "n_rows",
        (
            F.abs(F.col("__hll") - F.coalesce(F.col("n_parts"), F.lit(0)))
            <= 0.1 * F.coalesce(F.col("n_parts"), F.lit(0))
        ).alias("hll_ok"),
        # the rank band only BINDS at scale: for a tiny group the
        # exact CONTINUOUS p45/p55 interpolate between elements while
        # the sketch returns an element, so an 8-row group with
        # distinct middle values fails the band even though the
        # sketch is exact there (adversarial-tpch fixture). Below
        # 1000 rows percentile_approx(accuracy=10000) IS exact
        # rank-based, so the bound is vacuously satisfied by
        # construction and the check defers to it.
        (
            (
                (F.col("__amed") >= F.col("__pcts")[0])
                & (F.col("__amed") <= F.col("__pcts")[2])
            )
            | (F.col("n_rows") < 1000)
        ).alias("approx_median_ok"),
    )


@query(
    "d2b_ngram_jaccard_capped",
    oracle=f"""
    WITH {_D2B_CTES}
    {_D2B_SELECT}
    """,
)
def d2b_ngram_jaccard_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB-shaped variant of d2: shingles shared by more than 20
    documents are dropped before the candidate self-join (stop-shingle
    pruning). Hot keys are exactly what explodes the join — on this
    synthetic 30-word-vocabulary corpus the uncapped d2 takes ~20s at
    sf0.1 while this runs in ~1s, and the oracle applies the identical
    cap so the result is still exact for the surviving pairs."""
    from ..functions.dedup import ngram_jaccard_pairs

    return ngram_jaccard_pairs(load(spark, sf_dir, "documents"), max_doc_freq=20)


#: GPT-2-style pretokenizer regex, reduced to constructs whose
#: semantics are identical in Java regex (Spark) and RE2 (DuckDB):
#: letter runs | single digits | punctuation runs.
_BPE_RE = r"[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]+"


@query(
    "t5_bpe_tokens",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, regexp_extract_all(text, '{_BPE_RE}') AS t
      FROM documents
    )
    SELECT doc_id,
           CAST(len(t) AS INTEGER) AS n_subtokens,
           CAST(len(list_distinct(t)) AS INTEGER) AS n_unique,
           CAST(len(list_filter(t, x -> regexp_matches(x, '^[A-Za-z]')))
                AS INTEGER) AS n_alpha,
           CAST(len(list_filter(t, x -> regexp_matches(x, '^[0-9]')))
                AS INTEGER) AS n_digit
    FROM toks
    """,
)
def t5_bpe_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-style pretokenization counting — the token-budget estimator
    for an LLM data pipeline (whitespace counts undercount ~30% vs a
    real BPE; the pretokenizer split is the standard cheap proxy).
    Pure JVM regex + array ops, zero shuffle, zero Python."""
    toks = F.regexp_extract_all(F.col("text"), F.lit(_BPE_RE), 0)
    return load(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(toks).alias("n_subtokens"),
        F.size(F.array_distinct(toks)).alias("n_unique"),
        F.size(F.filter(toks, lambda t: t.rlike("^[A-Za-z]"))).alias("n_alpha"),
        F.size(F.filter(toks, lambda t: t.rlike("^[0-9]"))).alias("n_digit"),
    )


@query(
    "emb1_quantize",
    oracle="""
    WITH scaled AS (
      SELECT vec_id,
             list_max(list_transform(embedding,
                                     x -> abs(CAST(x AS DOUBLE)))) AS scale,
             embedding
      FROM embeddings
    ),
    q AS (
      SELECT vec_id, scale,
             list_transform(embedding,
               x -> CAST(round(CAST(x AS DOUBLE) / scale * 127) AS INTEGER))
               AS qv
      FROM scaled WHERE scale > 0
    )
    SELECT vec_id, scale,
           CAST(list_sum(list_transform(qv, v -> abs(v))) AS BIGINT) AS l1_q,
           CAST(len(list_filter(qv, v -> abs(v) = 127)) AS INTEGER)
             AS n_saturated
    FROM q
    """,
)
def emb1_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization of the embedding column — the
    storage/serving compression step of an embedding pipeline
    (float32 → int8 + per-vector scale = 4× smaller, recall loss
    <1% for cosine at this bit width). Per-row array math only
    (max-abs scale, transform-round) — no shuffle; the surfaced
    checksums (L1 mass, saturation count) are exact integers, so the
    oracle comparison is bit-exact."""
    emb = load(spark, sf_dir, "embeddings")
    absd = F.transform(F.col("embedding"), lambda x: F.abs(x.cast("double")))
    scaled = emb.select(
        "vec_id", F.array_max(absd).alias("scale"), "embedding"
    ).filter(F.col("scale") > 0)
    qv = F.transform(
        F.col("embedding"),
        lambda x: F.round(x.cast("double") / F.col("scale") * 127).cast("int"),
    )
    return scaled.select(
        "vec_id",
        "scale",
        F.aggregate(
            F.transform(qv, lambda v: F.abs(v).cast("bigint")),
            F.lit(0).cast("bigint"),
            lambda acc, v: acc + v,
        ).alias("l1_q"),
        F.size(F.filter(qv, lambda v: F.abs(v) == 127)).alias("n_saturated"),
    )


_CE_VID = _CEH.format(h="md5(CAST(vec_id AS VARCHAR))")
_CE_VID_SEEDED = _CEH.format(h="md5('1|' || CAST(vec_id AS VARCHAR))")

#: decimal-summed cosine between positionally co-unnested x/y pairs —
#: bit-identical to the Spark side's zip_with/aggregate fold
_COS_SQL = (
    "round(CAST(SUM(CAST(CAST(x AS DOUBLE) * CAST(y AS DOUBLE) AS DECIMAL(28,14))) AS DOUBLE)"
    " / (sqrt(CAST(SUM(CAST(CAST(x AS DOUBLE) * CAST(x AS DOUBLE) AS DECIMAL(28,14))) AS DOUBLE))"
    " * sqrt(CAST(SUM(CAST(CAST(y AS DOUBLE) * CAST(y AS DOUBLE) AS DECIMAL(28,14))) AS DOUBLE))), 6)"
)


#: The md5-family IVF index build (bucketed centroid pick + per-vector
#: argmin assignment), replayed bit-for-bit in SQL — shared by the IVF
#: probes (sim_ivfm/sim_ivfd, 16 centroids) and the SemDeDup query
#: (sdd1, 64: more clusters = smaller per-cluster quadratic).
def _ivfm_assign_ctes(n_centroids: int) -> str:
    # zero-norm vectors are unindexable (no nearest centroid; the
    # assignment would divide by zero) — excluded with the same
    # decimal-norm test the Spark side applies
    return f"""emb0 AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id <> 0),
    enorm AS (
      SELECT vec_id,
             SUM(CAST(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)
                      AS DECIMAL(28,14))) AS n2
      FROM (SELECT vec_id, unnest(embedding) AS x FROM emb0)
      GROUP BY vec_id
    ),
    emb AS (
      SELECT e.vec_id, e.embedding
      FROM emb0 e JOIN enorm USING (vec_id) WHERE enorm.n2 > 0
    ),
    cid AS (
      SELECT min_by(vec_id, {_CE_VID_SEEDED}) AS vec_id
      FROM emb
      GROUP BY (({_CE_VID} % {n_centroids}) + {n_centroids}) % {n_centroids}
    ),
    cent AS (
      SELECT e.vec_id AS centroid_id, e.embedding AS cvec
      FROM emb e JOIN cid USING (vec_id)
    ),
    apairs AS (
      SELECT e.vec_id, c.centroid_id,
             unnest(e.embedding) AS x, unnest(c.cvec) AS y
      FROM emb e, cent c
    ),
    asim AS (
      SELECT vec_id, centroid_id, {_COS_SQL} AS sim
      FROM apairs GROUP BY vec_id, centroid_id
    ),
    assigned AS (
      SELECT vec_id,
             arg_min(centroid_id,
                     CAST(round(-sim * 1000000) AS BIGINT) * 4294967296
                       + centroid_id)
               AS cluster
      FROM asim GROUP BY vec_id
    )"""


_IVFM_ASSIGN_CTES = _ivfm_assign_ctes(16)

#: The md5-family IVF probe (query norm-guard, centroid ranking,
#: n_probe=4 cell pick, candidate gather) — shared by the sim_ivfm /
#: sim_ivfd oracle and rec1's recall audit.
_IVFM_PROBE_CTES = f"""qn AS (
      SELECT SUM(CAST(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)
                      AS DECIMAL(28,14))) AS n2
      FROM (SELECT unnest(embedding) AS x FROM embeddings WHERE vec_id = 0)
    ),
    q AS (
      SELECT embedding AS qv FROM embeddings, qn
      WHERE vec_id = 0 AND qn.n2 > 0
    ),
    qpairs AS (
      SELECT c.centroid_id, unnest(c.cvec) AS x, unnest(q.qv) AS y
      FROM cent c, q
    ),
    qsim AS (
      SELECT centroid_id, {_COS_SQL} AS sim
      FROM qpairs GROUP BY centroid_id
    ),
    probed AS (
      SELECT centroid_id FROM qsim ORDER BY sim DESC, centroid_id LIMIT 4
    ),
    cand AS (
      SELECT e.vec_id, e.embedding
      FROM emb e
      JOIN assigned a USING (vec_id)
      JOIN probed p ON a.cluster = p.centroid_id
    ),
    fpairs AS (
      SELECT c.vec_id, unnest(c.embedding) AS x, unnest(q.qv) AS y
      FROM cand c, q
    )"""

#: The md5-family IVF build + probe + rerank, replayed bit-for-bit in
#: SQL — the oracle for BOTH sim_ivfm (inline) and sim_ivfd (on-disk
#: partition-pruned probe of the identical index).
_SIM_IVFM_SQL = f"""
    WITH {_IVFM_ASSIGN_CTES},
    {_IVFM_PROBE_CTES}
    SELECT vec_id, {_COS_SQL} AS cosine_sim
    FROM fpairs GROUP BY vec_id
    ORDER BY cosine_sim DESC, vec_id
    LIMIT 50
    """


@query("sim_ivfm_topk", oracle=_SIM_IVFM_SQL)
def sim_ivfm_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate top-k, fully ORACLE-BACKED: centroid selection
    uses the md5-derived cross-engine hash (bucket by
    ``ce_hash64(vec_id) mod 16``, representative = min second hash per
    bucket), cluster assignment breaks cosine ties by an exact ordered
    key over (round(−sim·1e6), centroid_id) — Spark compares the pair
    as a struct via ``array_min``, DuckDB as the collision-free integer
    encoding key·2³² + centroid_id (centroid ids are raw vec_ids, so
    the multiplier must exceed the id domain, not n_centroids) — and
    every cosine is the decimal-summed reproducible form, so DuckDB
    replays the ENTIRE index build + probe + rerank bit-for-bit. Like
    :func:`~...functions.similarity.ivf_assign`, the assignment is a
    per-row argmin over the broadcast centroid array: no ×16 fanout, no
    shuffle of the embedding column. The xxhash64 twin (sim_ivf_topk)
    is the production fast path; recall vs brute force is additionally
    unit-tested there."""
    from ..functions.similarity import brute_force_topk, cosine

    cents, assigned, qvec = _md5_ivf_parts(spark, sf_dir)
    probed = (
        cents.join(F.broadcast(qvec))
        .select(
            "centroid_id", cosine(F.col("cvec"), F.col("qv")).alias("__s")
        )
        .orderBy(F.col("__s").desc(), "centroid_id")
        .limit(4)
        .select("centroid_id")
    )
    cand = assigned.join(
        F.broadcast(probed), assigned.cluster == probed.centroid_id
    ).select("vec_id", "embedding")
    return brute_force_topk(cand, qvec, k=50)


def _md5_ivf_parts(spark: SparkSession, sf_dir: str, n_centroids: int = 16):
    """The md5-family (cross-engine, bit-exact) IVF index build shared
    by sim_ivfm (inline probe), sim_ivfd (on-disk partition-pruned
    probe) and sdd1 (SemDeDup, with more centroids): returns
    (centroids, assigned, query) where every cosine is the
    decimal-summed reproducible form, so DuckDB can replay the whole
    build. ``n_centroids`` must match the oracle's
    ``_ivfm_assign_ctes(n)``."""
    from ..functions.dedup import ce_hash64
    from ..functions.similarity import dot_decimal

    full = load(spark, sf_dir, "embeddings")
    # the decimal argmin over n_centroids folds is the CPU-heavy part
    # and the corpus often arrives as ONE split (single row group) —
    # spread it across cores or the whole assignment runs in one task
    # (measured 18s -> ~1s at sf0.1); same pattern as exploded_shingles
    # — size-conditional since r13: at scale the natural splits
    # suffice and the repartition vanishes (spread_if_narrow)
    # zero-norm vectors are unindexable — same decimal-norm test as
    # the oracle's enorm CTE (n2 > 0)
    # repartition BEFORE the zero-norm filter (r13): the filter is a
    # per-row decimal fold and would otherwise run on one task
    emb = spread_if_narrow(full.filter(F.col("vec_id") != 0)).filter(
        dot_decimal(F.col("embedding"), F.col("embedding")) > 0
    )
    vid = F.col("vec_id").cast("string")
    cids = (
        emb.select("vec_id")
        .groupBy(F.pmod(ce_hash64(vid), F.lit(n_centroids)).alias("__bucket"))
        .agg(
            F.min_by("vec_id", ce_hash64(F.concat(F.lit("1|"), vid))).alias("vec_id")
        )
        .select("vec_id")
    )
    cents = emb.join(F.broadcast(cids), "vec_id").select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("cvec")
    )
    # per-centroid norms hoisted out of the per-row loop; the surfaced
    # sim stays the exact decimal-dot form rounded to 6dp, so the value
    # (and therefore the argmin key) is bit-identical to the oracle's
    cents_row = cents.select(
        "centroid_id",
        "cvec",
        F.sqrt(dot_decimal(F.col("cvec"), F.col("cvec")).cast("double")).alias(
            "cnorm"
        ),
    ).agg(F.collect_list(F.struct("centroid_id", "cvec", "cnorm")).alias("__cents"))
    # r13 optimization: the row norm is PROJECTED once per row instead
    # of being referenced inside the transform lambda — HOFs evaluate
    # interpreted with no CSE, so the closed-over norm fold used to
    # re-run once per centroid (×n_centroids per row). Same
    # expression, same double, evaluated once.
    enorm = F.sqrt(
        dot_decimal(F.col("embedding"), F.col("embedding")).cast("double")
    )
    best = F.array_min(
        F.transform(
            F.col("__cents"),
            lambda c: F.struct(
                F.round(
                    -F.round(
                        dot_decimal(F.col("embedding"), c["cvec"]).cast("double")
                        / (F.col("__enorm") * c["cnorm"]),
                        6,
                    )
                    * 1000000
                )
                .cast("long")
                .alias("nk"),
                c["centroid_id"].alias("centroid_id"),
            ),
        )
    )
    assigned = (
        emb.withColumn("__enorm", enorm)
        .join(F.broadcast(cents_row))
        .select("vec_id", "embedding", best["centroid_id"].alias("cluster"))
    )
    # a zero-norm QUERY can rank nothing either — same guard as the
    # oracle's qn CTE
    qvec = (
        full.filter(F.col("vec_id") == 0)
        .filter(dot_decimal(F.col("embedding"), F.col("embedding")) > 0)
        .select(F.col("embedding").alias("qv"))
    )
    return cents, assigned, qvec


@query(
    "sim_ivfd_topk",
    oracle=_SIM_IVFM_SQL,
)
def sim_ivfd_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF top-k probed against an ON-DISK index — the warehouse form
    of sim_ivfm, bit-identical result, different physical story: the
    md5-family assignment is written PARTITIONED BY cluster (one
    directory per centroid) plus the tiny centroid table; the probe
    ranks the centroid table against the query, collects the 4 winning
    cluster ids (a sanctioned control-plane read of 4 integers, like
    the CET/LSET lookup), and scans the assigned table with a literal
    ``isin`` — the parquet scan's PartitionFilters clause drops the
    other 12 directories before a single file opens (plan-asserted in
    tests/test_plans.py). At 100 TB this is the difference between an
    ANN probe touching ~n_probe/n_centroids of the index bytes and
    re-deriving the full assignment per query. The index is built once
    per session and embeddings file, in a :func:`.registry.scratch_dir`
    keyed to that file, so later calls measure the probe alone and a
    changed file gets a new index."""
    from ..functions.similarity import brute_force_topk, cosine

    cents, assigned, qvec = _md5_ivf_parts(spark, sf_dir)

    def build(path: str) -> None:
        assigned.write.partitionBy("cluster").parquet(f"{path}/assigned")
        cents.write.parquet(f"{path}/centroids")

    path = scratch_dir("sim_ivfd_", sf_dir, ["embeddings"], build)
    probed = [
        r["centroid_id"]
        for r in (
            spark.read.parquet(f"{path}/centroids")
            .join(F.broadcast(qvec))
            .select(
                "centroid_id", cosine(F.col("cvec"), F.col("qv")).alias("__s")
            )
            .orderBy(F.col("__s").desc(), "centroid_id")
            .limit(4)
            .collect()
        )
    ]
    cand = (
        spark.read.parquet(f"{path}/assigned")
        .filter(F.col("cluster").isin(probed))
        .select("vec_id", "embedding")
    )
    return brute_force_topk(cand, qvec, k=50)


@query(
    "sdd1_semantic_dedup",
    oracle=f"""
    WITH {_ivfm_assign_ctes(64)},
    members AS (
      SELECT a.vec_id, a.cluster, e.embedding
      FROM assigned a JOIN emb e USING (vec_id)
    ),
    p AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             unnest(a.embedding) AS x, unnest(b.embedding) AS y
      FROM members a JOIN members b
        ON a.cluster = b.cluster AND a.vec_id < b.vec_id
    ),
    cd AS (
      SELECT id_a, id_b, {_COS_SQL} AS c
      FROM p GROUP BY id_a, id_b
    ),
    dropped AS (SELECT DISTINCT id_b AS vec_id FROM cd WHERE c >= 0.4)
    SELECT m.vec_id, m.cluster, d.vec_id IS NULL AS is_kept
    FROM members m LEFT JOIN dropped d USING (vec_id)
    """,
)
def sdd1_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    deduplication by clustering embeddings and dropping, within each
    cluster, every vector that has a lower-id neighbor above the
    cosine threshold — the embedding-space complement of the lexical
    d-family (catches paraphrases and re-encodings that share no
    shingles). Cluster assignment is the md5-family IVF quantizer
    (bit-exact SQL replay via the shared assignment CTEs); pair
    cosines are the decimal-summed reproducible form; keep-lowest-id
    makes the drop decision deterministic. Output: every corpus
    vector with its cluster and the keep/drop verdict.

    Scale shape: the whole point of SemDeDup is that pairwise
    comparison happens only WITHIN a cluster — one shuffle on the
    cluster key, then C(cluster_size, 2) local work instead of
    C(corpus, 2) global; 64 centroids (vs the probes' 16) keep the
    per-cluster quadratic small, and at 100 TB n_centroids grows with
    the corpus so cluster size (and the per-task quadratic) stays
    bounded. The assignment itself is the broadcast-argmin projection
    ivf_assign documents (no corpus shuffle to build the index), and
    each member's norm is computed ONCE and carried into the pair join
    — the pair score is one decimal dot instead of three folds, the
    identical round(dot/(norm_a*norm_b), 6) value the oracle's
    per-pair form produces."""
    from ..functions.similarity import dot_decimal
    from pyspark import StorageLevel

    _, assigned, _ = _md5_ivf_parts(spark, sf_dir, n_centroids=64)
    members = assigned.select(
        "vec_id",
        "cluster",
        "embedding",
        F.sqrt(
            dot_decimal(F.col("embedding"), F.col("embedding")).cast("double")
        ).alias("__norm"),
    ).persist(StorageLevel.MEMORY_AND_DISK)
    a = members.select(
        F.col("cluster"),
        F.col("vec_id").alias("id_a"),
        F.col("embedding").alias("va"),
        F.col("__norm").alias("na"),
    )
    b = members.select(
        F.col("cluster"),
        F.col("vec_id").alias("id_b"),
        F.col("embedding").alias("vb"),
        F.col("__norm").alias("nb"),
    )
    pair_cos = F.round(
        dot_decimal(F.col("va"), F.col("vb")).cast("double")
        / (F.col("na") * F.col("nb")),
        6,
    )
    dropped = (
        a.join(b, "cluster")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_b", pair_cos.alias("c"))
        .filter(F.col("c") >= 0.4)
        .select(F.col("id_b").alias("vec_id"))
        .distinct()
        .withColumn("__dropped", F.lit(True))
    )
    return (
        members.select("vec_id", "cluster")
        .join(dropped, "vec_id", "left_outer")
        .select(
            "vec_id", "cluster", F.col("__dropped").isNull().alias("is_kept")
        )
    )


@query(
    "sim_ivf_topk",
    oracle=f"""
    WITH exact AS ({_SIM_COSINE_SQL})
    SELECT CAST(row_number() OVER (ORDER BY cosine_sim DESC, vec_id) AS INTEGER)
             AS rank,
           vec_id, cosine_sim,
           TRUE AS ivf_dominated, TRUE AS recall_ok
    FROM exact
    """,
)
def sim_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate top-k against the vec_id=0 query (probe 4 of 16
    clusters, exact-rerank their members — ~1/4 of the corpus
    touched), SELF-VERIFIED against the exact brute-force top-50 in
    the same query. The xxhash64 cluster assignment has no SQL twin,
    so the hashable output is the exact top-50 (rank, vec_id, score —
    bit-reproducible decimal dot products) annotated with two booleans
    the production IVF path must earn:

    - ``ivf_dominated``: the i-th best IVF score ≤ the i-th best exact
      score. A mathematical invariant of ANY candidate subset (IVF
      ranks a subset of the corpus with the identical score function),
      so it holds at every scale and every corpus — unless the IVF
      path returns corrupt/inflated scores, which is exactly what it
      guards.
    - ``recall_ok``: |IVF∩exact| ≥ 2 of 50. Expected overlap under a
      *uniform* (worst-case, unclustered) corpus is k·n_probe/
      n_centroids = 12.5, so the floor sits >5σ below the null mean —
      robust to corpus regeneration while still catching a probe that
      reads the wrong clusters entirely.

    The oracle replays the exact ranking and expects every boolean
    TRUE, making this row driver-hashable (closing the last rows-only
    oracle gap); sim_ivfm remains the user-shaped IVF query with the
    bit-exact md5-family oracle, sim_cosine the exact baseline."""
    from pyspark import StorageLevel

    from ..functions.similarity import IVF_K, brute_force_topk, ivf_topk

    emb = load(spark, sf_dir, "embeddings")
    qvec = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    corpus = emb.filter(F.col("vec_id") != 0)
    # each 50-row top-k feeds two consumers (rank join + recall agg):
    # persist the tiny results so the corpus-level pipelines run once
    exact = brute_force_topk(corpus, qvec, k=IVF_K).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    ivf = ivf_topk(corpus, qvec).persist(StorageLevel.MEMORY_AND_DISK)
    # rank windows run AFTER each limit(50): single-partition over 50
    # rows, not a global sort of the corpus
    w = Window.orderBy(F.col("cosine_sim").desc(), "vec_id")
    exact_r = exact.select(
        F.row_number().over(w).alias("rank"), "vec_id", "cosine_sim"
    )
    ivf_r = ivf.select(
        F.row_number().over(w).alias("rank"),
        F.col("cosine_sim").alias("ivf_sim"),
    )
    n_common = ivf.select("vec_id").join(exact.select("vec_id"), "vec_id").agg(
        F.count("*").alias("n_common")
    )
    return (
        exact_r.join(ivf_r, "rank", "left_outer")
        .crossJoin(F.broadcast(n_common))
        .select(
            "rank",
            "vec_id",
            "cosine_sim",
            F.coalesce(
                F.col("ivf_sim") <= F.col("cosine_sim"), F.lit(True)
            ).alias("ivf_dominated"),
            (F.col("n_common") >= 2).alias("recall_ok"),
        )
    )


# --------------------------------------------------------------------------
# rec1 — exact recall@k audit of the IVF probe (md5 family, oracle-replayed)
# --------------------------------------------------------------------------

_REC1_K = 50

_REC1_SQL = f"""
    WITH {_IVFM_ASSIGN_CTES},
    {_IVFM_PROBE_CTES},
    ivf AS (
      SELECT vec_id, {_COS_SQL} AS s
      FROM fpairs GROUP BY vec_id
      ORDER BY s DESC, vec_id LIMIT {_REC1_K}
    ),
    epairs AS (
      SELECT e.vec_id, unnest(e.embedding) AS x, unnest(q.qv) AS y
      FROM emb e, q
    ),
    exact AS (
      SELECT vec_id, {_COS_SQL} AS s
      FROM epairs GROUP BY vec_id
      ORDER BY s DESC, vec_id LIMIT {_REC1_K}
    )
    SELECT CAST({_REC1_K} AS BIGINT) AS k,
           (SELECT CAST(count(*) AS BIGINT) FROM exact) AS n_exact,
           (SELECT CAST(count(*) AS BIGINT) FROM ivf) AS n_ivf,
           (SELECT CAST(count(*) AS BIGINT)
              FROM exact JOIN ivf USING (vec_id)) AS n_overlap,
           CAST((SELECT count(*) FROM exact JOIN ivf USING (vec_id)) AS DOUBLE)
             / CAST((SELECT count(*) FROM exact) AS DOUBLE) AS recall_at_k
    """


@query("rec1_ivf_recall", oracle=_REC1_SQL)
def rec1_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT recall@k of the IVF probe — the ANN acceptance number an
    index rollout is gated on (the standard ann-benchmarks metric):
    |IVF top-k ∩ exact top-k| / |exact top-k| for the vec_id=0 query,
    k={k}, over the md5-family index (probe 4 of 16 cells). Where
    sim_ivf_topk asserts a loose recall FLOOR on the xxhash64
    production index and ndcg1 scores rank quality, this surfaces the
    exact recall FRACTION, hash-verified: the md5 hash family lets
    DuckDB replay the entire index build + probe + both rankings
    bit-for-bit, so the oracle pins the true number, not a bound.
    Recall here is a DATA property (how clustered the corpus is
    around the query), so the value doubles as a drift monitor: a
    corpus regeneration that drops it signals the n_probe budget no
    longer fits the data.

    Exactness: both rankings use the decimal-summed 6dp cosine with
    vec_id tiebreaks (no ties survive); counts are exact integers and
    the surfaced recall is ONE double division.

    Scale shape: two TakeOrderedAndProject heaps (candidate subset
    and full corpus — the exact arm is the audit's cost, run at
    rollout/monitor cadence, not per query) + a broadcast {k}-row
    intersection + 1-row aggregates; nothing after the heaps grows
    with the corpus."""
    from pyspark import StorageLevel

    from ..functions.dedup import ce_hash64  # noqa: F401  (family doc pointer)
    from ..functions.similarity import brute_force_topk, cosine, dot_decimal

    cents, assigned, qvec = _md5_ivf_parts(spark, sf_dir)
    probed = (
        cents.join(F.broadcast(qvec))
        .select("centroid_id", cosine(F.col("cvec"), F.col("qv")).alias("__s"))
        .orderBy(F.col("__s").desc(), "centroid_id")
        .limit(4)
        .select("centroid_id")
    )
    cand = assigned.join(
        F.broadcast(probed), assigned.cluster == probed.centroid_id
    ).select("vec_id", "embedding")
    ivf = brute_force_topk(cand, qvec, k=_REC1_K).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    corpus = (
        load(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") != 0)
        .filter(dot_decimal(F.col("embedding"), F.col("embedding")) > 0)
    )
    exact = brute_force_topk(corpus, qvec, k=_REC1_K).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    ne = exact.agg(F.count("*").cast("long").alias("n_exact"))
    ni = ivf.agg(F.count("*").cast("long").alias("n_ivf"))
    no = (
        exact.select("vec_id")
        .join(ivf.select("vec_id"), "vec_id")
        .agg(F.count("*").cast("long").alias("n_overlap"))
    )
    return (
        ne.join(F.broadcast(ni))
        .join(F.broadcast(no))
        .select(
            F.lit(_REC1_K).cast("long").alias("k"),
            "n_exact",
            "n_ivf",
            "n_overlap",
            (
                F.col("n_overlap").cast("double")
                / F.col("n_exact").cast("double")
            ).alias("recall_at_k"),
        )
    )


rec1_ivf_recall.__doc__ = rec1_ivf_recall.__doc__.format(k=_REC1_K)


@query(
    "w5_distribution_ranks",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_returnflag,
           percent_rank() OVER w AS pct_rank,
           cume_dist() OVER w AS cume,
           CAST(dense_rank() OVER w AS BIGINT) AS drank
    FROM lineitem
    WINDOW w AS (PARTITION BY l_returnflag ORDER BY l_extendedprice)
    """,
)
def w5_distribution_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-rank window functions — percent_rank / cume_dist /
    dense_rank in one pass. All three are tie-DETERMINISTIC (peers in
    the ORDER BY share a value), so no row_number-style tiebreak is
    needed and the doubles hash-match: both engines evaluate
    (rank−1)/(n−1) and peers/n on identical integers. One shuffle on
    the partition key, one per-partition sort shared by all three
    functions."""
    w = Window.partitionBy("l_returnflag").orderBy("l_extendedprice")
    return load(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        "l_returnflag",
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
        F.dense_rank().over(w).cast("long").alias("drank"),
    )


#: irregular cumulative band weights — exact double literals, so
#: lo/hi = mn + (mx−mn)·w is the identical IEEE arithmetic in both
#: engines and band edges are bit-equal without any interpolation
_RJ_WEIGHTS = [0.0, 0.05, 0.15, 0.3, 0.5, 0.65, 0.8, 0.9, 0.97, 1.0]


@query(
    "rj1_interval_lookup",
    oracle=f"""
    WITH b AS (SELECT min(o_totalprice) AS mn, max(o_totalprice) AS mx
               FROM orders),
    bands AS (
      SELECT k.band_id,
             b.mn + (b.mx - b.mn) * k.wlo AS lo,
             b.mn + (b.mx - b.mn) * k.whi AS hi
      FROM b, (VALUES {", ".join(f"({i}, {_RJ_WEIGHTS[i]!r}::DOUBLE, {_RJ_WEIGHTS[i + 1]!r}::DOUBLE)" for i in range(9))})
             AS k(band_id, wlo, whi)
    )
    SELECT o.o_orderkey, CAST(bands.band_id AS INTEGER) AS band_id,
           bands.lo AS band_lo, bands.hi AS band_hi
    FROM orders o
    JOIN bands ON o.o_totalprice >= bands.lo
              AND (o.o_totalprice < bands.hi OR bands.band_id = 8)
    """,
)
def rj1_interval_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-lookup (range) join: each row lands in the ONE
    irregular [lo, hi) band containing its value — the geo-lookup /
    price-band / SCD-validity shape, where the join has NO equality
    key. The scale pattern: the band table is bounded (here 9 rows,
    from a 1-row min/max aggregate), so broadcast it and let the
    nested-loop join stream the fact side once — O(n·bands) with
    bands a constant, never a shuffle. For UNBOUNDED interval tables
    the same query adds an equi bucket key (floor(value/width)) to
    both sides to regain a hash join; the bounded form is the common
    dimensional case. Band edges are derived with identical IEEE
    arithmetic in both engines, so even the double bounds hash-match."""
    orders = load(spark, sf_dir, "orders")
    b = orders.agg(
        F.min("o_totalprice").alias("mn"), F.max("o_totalprice").alias("mx")
    )
    bands = b.select(
        F.posexplode(
            F.array(
                *[
                    F.struct(
                        (
                            F.col("mn")
                            + (F.col("mx") - F.col("mn")) * F.lit(_RJ_WEIGHTS[i])
                        ).alias("lo"),
                        (
                            F.col("mn")
                            + (F.col("mx") - F.col("mn"))
                            * F.lit(_RJ_WEIGHTS[i + 1])
                        ).alias("hi"),
                    )
                    for i in range(9)
                ]
            )
        ).alias("band_id", "band")
    ).select("band_id", "band.lo", "band.hi")
    joined = orders.join(
        F.broadcast(bands),
        (F.col("o_totalprice") >= F.col("lo"))
        & ((F.col("o_totalprice") < F.col("hi")) | (F.col("band_id") == 8)),
    )
    return joined.select(
        "o_orderkey",
        F.col("band_id").cast("int").alias("band_id"),
        F.col("lo").alias("band_lo"),
        F.col("hi").alias("band_hi"),
    )


_CM_DEPTH, _CM_WIDTH = 4, 256
_CM_CE = _CEH.format(h="md5(CAST(d.d AS VARCHAR)||'|'||tok)")


@query(
    "cm1_countmin_heavyhitters",
    oracle=f"""
    WITH toks AS (
      SELECT unnest(regexp_extract_all(text, '\\S+')) AS tok FROM documents
    ),
    depths AS (SELECT * FROM (VALUES (0),(1),(2),(3)) AS d(d)),
    occ AS (
      SELECT tok, d.d AS d,
             ((({_CM_CE}) % {_CM_WIDTH}) + {_CM_WIDTH}) % {_CM_WIDTH} AS bucket
      FROM toks CROSS JOIN depths d
    ),
    counters AS (
      SELECT d, bucket, count(*) AS cnt FROM occ GROUP BY 1, 2
    ),
    exact AS (
      SELECT tok, count(*) AS true_cnt FROM toks GROUP BY 1
      ORDER BY true_cnt DESC, tok LIMIT 20
    ),
    probes AS (
      SELECT e.tok, e.true_cnt, d.d AS d,
             ((({_CM_CE}) % {_CM_WIDTH}) + {_CM_WIDTH}) % {_CM_WIDTH} AS bucket
      FROM exact e CROSS JOIN depths d
    )
    SELECT p.tok AS token,
           CAST(p.true_cnt AS BIGINT) AS true_cnt,
           CAST(min(c.cnt) AS BIGINT) AS cm_est
    FROM probes p JOIN counters c ON c.d = p.d AND c.bucket = p.bucket
    GROUP BY 1, 2
    """,
)
def cm1_countmin_heavyhitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count–min sketch heavy hitters, fully cross-engine: a depth×width
    (4×256) counter matrix from one hash per (depth, token occurrence),
    then the CM estimate for the exact top-20 tokens = min over depths
    of their counters. The md5-derived hash makes DuckDB rebuild the
    IDENTICAL sketch, so the estimates (not just bounds) hash-match —
    and the output pairs every true count with its estimate, exhibiting
    the CM guarantee (est ≥ truth, inflated only by collisions).

    Scale shape: the matrix is depth·width = 1024 counters regardless
    of corpus size (the entire point of the sketch — counters fit in
    one executor at ANY scale); building it is one map-side-combined
    groupBy over a ×4 narrow fanout of bare (d, bucket) ints, never
    the tokens themselves. The exact side exists to exhibit accuracy;
    a production pipeline ships only the 1024-cell matrix."""
    from ..functions.dedup import ce_hash64, tokens

    toks = (
        load_spread(spark, sf_dir, "documents")
        .select(F.explode(tokens(F.col("text"))).alias("tok"))
    )

    def bucket_of(d: Column) -> Column:
        return F.pmod(
            ce_hash64(F.concat(d.cast("string"), F.lit("|"), F.col("tok"))),
            F.lit(_CM_WIDTH),
        )

    occ = toks.select(
        F.posexplode(
            F.array(*[bucket_of(F.lit(d)) for d in range(_CM_DEPTH)])
        ).alias("d", "bucket")
    )
    counters = occ.groupBy("d", "bucket").agg(F.count("*").alias("cnt"))
    exact = (
        toks.groupBy("tok")
        .agg(F.count("*").alias("true_cnt"))
        .orderBy(F.desc("true_cnt"), "tok")
        .limit(20)
    )
    probes = exact.select(
        "tok",
        "true_cnt",
        F.posexplode(
            F.array(*[bucket_of(F.lit(d)) for d in range(_CM_DEPTH)])
        ).alias("d", "bucket"),
    )
    return (
        probes.join(counters, ["d", "bucket"])
        .groupBy("tok", "true_cnt")
        .agg(F.min("cnt").alias("cm_est"))
        .select(
            F.col("tok").alias("token"),
            "true_cnt",
            F.col("cm_est").cast("long").alias("cm_est"),
        )
    )


# --------------------------------------------------------------------------
# round 6 additions: corpus-level overlap, sorted-neighborhood ER,
# segment-level (C4/RefinedWeb-style) dedup
# --------------------------------------------------------------------------


@query(
    "ovr1_source_overlap",
    oracle="""
    WITH toks AS (
      SELECT source, regexp_extract_all(text, '\\S+') AS t FROM documents
    ),
    sh AS (
      SELECT DISTINCT source,
             concat_ws(' ', t[i], t[i+1], t[i+2]) AS shingle
      FROM toks, UNNEST(range(1, greatest(len(t) - 1, 1))) AS u(i)
    ),
    sizes AS (SELECT source, count(*) AS sz FROM sh GROUP BY source),
    inter AS (
      SELECT a.source AS src_a, b.source AS src_b, count(*) AS inter
      FROM sh a JOIN sh b USING (shingle)
      WHERE a.source < b.source
      GROUP BY 1, 2
    )
    SELECT src_a, src_b, CAST(inter AS BIGINT) AS inter,
           round(CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter), 6)
             AS jaccard,
           round(CAST(inter AS DOUBLE) / sa.sz, 6) AS containment_a
    FROM inter
    JOIN sizes sa ON sa.source = src_a
    JOIN sizes sb ON sb.source = src_b
    """,
)
def ovr1_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CORPUS-LEVEL overlap matrix: exact distinct-3-shingle Jaccard and
    containment between every pair of sources — the audit that decides
    whether two crawls/snapshots are worth ingesting separately or one
    is largely a subset of the other (the corpus-level twin of d10's
    per-document containment).

    Scale shape: one aggregation to (shingle -> sorted distinct source
    set), then local pair enumeration off the bounded array — the
    per-shingle fan-out is capped by the SOURCE COUNT, a catalog-level
    constant (dozens of crawls, not millions of docs), so no hot-key
    self-join exists in the plan and per-source sizes fall out of the
    same grouped relation (one explode, zero extra passes over the
    corpus). At 100 TB the same plan holds; if the per-source distinct
    counts themselves outgrow exact counting, the drop-in is one HLL
    sketch per (source) and per (pair) via the hll1 machinery with
    inclusion-exclusion, trading exactness for a fixed 1.5 KB register
    per cell."""
    from ..functions.dedup import word_shingles

    docs = load(spark, sf_dir, "documents")
    sh = spread_if_narrow(docs.select("source", "text")).select(
        "source",
        F.explode(word_shingles(F.col("text"), 3)).alias("shingle"),
    )
    grouped = (
        sh.groupBy("shingle")
        .agg(F.array_sort(F.collect_set("source")).alias("srcs"))
        .persist()
    )
    sizes = (
        grouped.select(F.explode("srcs").alias("source"))
        .groupBy("source")
        .agg(F.count("*").alias("sz"))
    )
    pair_structs = F.expr(
        "flatten(transform(srcs, (x, i) -> "
        "transform(slice(srcs, i + 2, size(srcs)), "
        "y -> struct(x AS src_a, y AS src_b))))"
    )
    inter = (
        grouped.filter(F.size("srcs") > 1)
        .select(F.explode(pair_structs).alias("p"))
        .select("p.src_a", "p.src_b")
        .groupBy("src_a", "src_b")
        .agg(F.count("*").alias("inter"))
    )
    sa = sizes.select(F.col("source").alias("src_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("source").alias("src_b"), F.col("sz").alias("sz_b"))
    return (
        inter.join(F.broadcast(sa), "src_a")
        .join(F.broadcast(sb), "src_b")
        .select(
            "src_a",
            "src_b",
            F.col("inter").cast("long").alias("inter"),
            F.round(
                F.col("inter").cast("double")
                / (F.col("sz_a") + F.col("sz_b") - F.col("inter")),
                6,
            ).alias("jaccard"),
            F.round(F.col("inter").cast("double") / F.col("sz_a"), 6).alias(
                "containment_a"
            ),
        )
    )


def _snm_ranked(spark: SparkSession, docs: DataFrame) -> DataFrame:
    """Scalable global rank on the SNM sort key over ``docs``: returns
    the persisted (doc_id, sz, rn) table snm1/snm2 pair from. See
    snm1's docstring for the range-partition + per-partition offset
    recipe; factored so the snm2 recall audit replays the IDENTICAL
    ranking machinery rather than a single-partition window twin."""
    from pyspark import StorageLevel

    from ..functions.dedup import word_shingles

    n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
    key = F.coalesce(
        F.substring(
            F.regexp_replace(F.lower(F.col("text")), r"\s+", " "), 1, 40
        ),
        F.lit(""),
    )
    slim = (
        spread_if_narrow(docs.select("doc_id", "text"))
        .select(
            "doc_id",
            key.alias("key"),
            F.size(word_shingles(F.col("text"), 3)).alias("sz"),
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    keyed = (
        slim.repartitionByRange(n_part, "key", "doc_id")
        .withColumn("pid", F.spark_partition_id())
        .localCheckpoint(eager=True)
    )
    counts = {
        r["pid"]: r["cnt"]
        for r in keyed.groupBy("pid").agg(F.count("*").alias("cnt")).collect()
    }
    offsets, acc = {}, 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    off_map = F.create_map(
        *[F.lit(x) for kv in offsets.items() for x in kv]
    )
    local_rn = F.row_number().over(
        Window.partitionBy("pid").orderBy("key", "doc_id")
    )
    return keyed.select(
        "doc_id",
        "sz",
        (local_rn + off_map[F.col("pid")]).cast("long").alias("rn"),
    ).persist(StorageLevel.MEMORY_AND_DISK)


# NULL text → '' key (not NULL): Spark sorts NULLS FIRST ascending,
# DuckDB row_number defaults to NULLS LAST — coalescing to the empty
# string pins tokenless docs to the front of the sort in BOTH engines
_SNM_KEY_SQL = (
    "coalesce(substr(regexp_replace(lower(text), '\\s+', ' ', 'g'), 1, 40),"
    " '')"
)


@query(
    "snm1_sorted_neighborhood",
    oracle=f"""
    WITH keyed AS (
      SELECT doc_id, {_SNM_KEY_SQL} AS key FROM documents
    ),
    ranked AS (
      SELECT doc_id, row_number() OVER (ORDER BY key, doc_id) AS rn
      FROM keyed
    ),
    cand AS (
      SELECT least(a.doc_id, b.doc_id) AS doc_a,
             greatest(a.doc_id, b.doc_id) AS doc_b,
             CAST(b.rn - a.rn AS INTEGER) AS gap
      FROM ranked a JOIN ranked b
        ON b.rn > a.rn AND b.rn <= a.rn + 10
    ),
    {_D2_CTES}
    SELECT c.doc_a, c.doc_b, c.gap,
           CAST(inter AS DOUBLE) / (sa.set_size + sb.set_size - inter)
             AS jaccard
    FROM cand c
    JOIN inter i ON i.doc_a = c.doc_a AND i.doc_b = c.doc_b
    JOIN sizes sa ON sa.doc_id = c.doc_a
    JOIN sizes sb ON sb.doc_id = c.doc_b
    WHERE CAST(inter AS DOUBLE) / (sa.set_size + sb.set_size - inter) >= 0.5
    """,
)
def snm1_sorted_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood near-dup candidate generation (Hernandez &
    Stolfo 1995, the classic entity-resolution blocking method): sort
    the corpus on a normalized prefix key, slide a w=10 window down the
    sort order, exact-verify every in-window pair with true shingle
    Jaccard >= 0.5. Complements the LSH family (d3/d3v): SNM is the
    candidate generator of choice when near-dups share PREFIXES
    (boilerplate headers, templated records) — cost is a sort plus
    n*w candidate verifications, no banding parameters to tune.

    Scale shape: the global sort RANK is computed without a
    single-partition window — range-repartition on (key, doc_id),
    persist (pinning the sampled range boundaries so the count pass
    and the rank pass see identical partitioning), count rows per
    partition (a control-plane collect of n_part longs), and add the
    exclusive prefix-sum offset to a PER-PARTITION row_number. Global
    rank = offset + local rank holds for ANY range boundary placement
    because ranges are ordered and (key, doc_id) is a total order —
    the standard scalable rank recipe (same shape Spark's own
    zipWithIndex uses). Window pairing is then an equi-join on the
    integer rank after a w-way sequence explode — linear in n*w."""
    from pyspark import StorageLevel

    from ..functions.dedup import exact_jaccard_for_pairs

    docs = load(spark, sf_dir, "documents")
    # ranking machinery factored into _snm_ranked (shared with snm2's
    # recall audit); see that helper and the comments inside it for the
    # slim-persist / localCheckpoint / offset-map reasoning.
    ranked = _snm_ranked(spark, docs)
    left = ranked.select(
        F.col("doc_id").alias("id_l"),
        F.col("sz").alias("sz_l"),
        F.col("rn").alias("rn_l"),
        F.explode(F.sequence(F.lit(1), F.lit(10))).alias("off"),
    ).select(
        "id_l", "sz_l", (F.col("rn_l") + F.col("off")).alias("rn"), "off"
    )
    # LOSSLESS size-ratio prune before the expensive shingle probe:
    # J(A,B) <= min(|A|,|B|)/max(|A|,|B|), so J >= 0.5 forces
    # 2*min >= max — pairs failing it cannot survive the final filter
    # (cuts ~40% of the in-window pairs on this corpus; the oracle
    # needs no twin because the prune provably changes nothing)
    cand = (
        left.join(
            ranked.select(
                F.col("doc_id").alias("id_r"), F.col("sz").alias("sz_r"), "rn"
            ),
            "rn",
        )
        .filter(
            (F.least("sz_l", "sz_r") > 0)
            & (F.least("sz_l", "sz_r") * 2 >= F.greatest("sz_l", "sz_r"))
        )
        .select(
            F.least("id_l", "id_r").alias("doc_a"),
            F.greatest("id_l", "id_r").alias("doc_b"),
            F.col("off").cast("int").alias("gap"),
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    verified = exact_jaccard_for_pairs(docs, cand).filter(
        F.col("jaccard") >= 0.5
    )
    return verified.join(cand, ["doc_a", "doc_b"]).select(
        "doc_a", "doc_b", "gap", "jaccard"
    )


@query(
    "d11_segment_dedup",
    oracle="""
    WITH toks AS (
      SELECT doc_id, regexp_extract_all(text, '\\S+') AS t FROM documents
    ),
    segs AS (
      SELECT doc_id, CAST(i AS INTEGER) AS seg_idx,
             array_to_string(t[(CAST(i AS INTEGER)*10+1):(CAST(i AS INTEGER)*10+10)], ' ') AS seg,
             len(t[(CAST(i AS INTEGER)*10+1):(CAST(i AS INTEGER)*10+10)]) AS seg_toks
      FROM toks,
           UNNEST(range(0, CAST(floor((len(t) - 1) / 10) + 1 AS BIGINT))) u(i)
      WHERE len(t) >= 1
    ),
    keep AS (
      SELECT doc_id, seg_idx, seg_toks,
             row_number() OVER (PARTITION BY seg ORDER BY doc_id, seg_idx)
               = 1 AS kept
      FROM segs
    )
    SELECT doc_id,
           CAST(count(*) AS INTEGER) AS n_segs,
           CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS INTEGER)
             AS n_kept_segs,
           CAST(sum(seg_toks) AS BIGINT) AS n_tokens,
           CAST(sum(CASE WHEN kept THEN seg_toks ELSE 0 END) AS BIGINT)
             AS n_kept_tokens,
           round(CAST(sum(CASE WHEN kept THEN seg_toks ELSE 0 END) AS DOUBLE)
                 / sum(seg_toks), 6) AS retention
    FROM keep GROUP BY doc_id
    """,
)
def d11_segment_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEGMENT-level exact dedup — the C4 / RefinedWeb recipe (Raffel
    et al. 2020 §2.2; Penedo et al. 2023): split every doc into
    fixed 10-token segments, keep only the FIRST corpus-wide occurrence
    of each distinct segment (first = smallest (doc_id, seg_idx)), and
    report per-doc retention. Unlike d1 (whole-doc) or d3 (whole-doc
    near-dup), this removes boilerplate REGIONS from otherwise-unique
    docs — the op that strips repeated headers/footers/license blocks
    a training pipeline sees millions of times.

    Scale shape: one explode of non-overlapping segments (output rows
    ~= n_tokens/10, strictly linear), one hash shuffle on the segment
    text for the keep-first window, one groupBy(doc_id) rollup. The
    window per segment-key processes exactly the duplicate multiplicity
    of that segment (the same bounded-group shape as a3's keep-first
    dedup); at 100 TB the shuffle key would be xxhash64(seg) for
    fixed-width exchange instead of the raw string, collision-checked
    by the kept-side length sum."""
    from ..functions.dedup import tokens

    docs = load(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    n_segs = (F.floor((F.size(toks) - 1) / 10) + 1).cast("int")
    segs = (
        spread_if_narrow(docs.select("doc_id", "text"))
        .select(
            "doc_id",
            toks.alias("t"),
            F.explode(
                F.when(
                    F.size(toks) >= 1,
                    F.sequence(F.lit(0), n_segs - 1),
                ).otherwise(F.array().cast("array<int>"))
            ).alias("seg_idx"),
        )
        .select(
            "doc_id",
            "seg_idx",
            F.array_join(
                F.slice(F.col("t"), F.col("seg_idx") * 10 + 1, 10), " "
            ).alias("seg"),
            F.size(F.slice(F.col("t"), F.col("seg_idx") * 10 + 1, 10)).alias(
                "seg_toks"
            ),
        )
    )
    kept = (
        F.row_number().over(
            Window.partitionBy("seg").orderBy("doc_id", "seg_idx")
        )
        == 1
    )
    return (
        segs.withColumn("kept", kept)
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("int").alias("n_segs"),
            F.sum(F.col("kept").cast("int")).cast("int").alias("n_kept_segs"),
            F.sum("seg_toks").cast("long").alias("n_tokens"),
            F.sum(F.when(F.col("kept"), F.col("seg_toks")).otherwise(F.lit(0)))
            .cast("long")
            .alias("n_kept_tokens"),
            F.round(
                F.sum(
                    F.when(F.col("kept"), F.col("seg_toks")).otherwise(F.lit(0))
                ).cast("double")
                / F.sum("seg_toks"),
                6,
            ).alias("retention"),
        )
    )


@query(
    "d4v_simhash_verified",
    oracle=f"""
    WITH {_D4_FP_CTES},
    toks AS (
      SELECT doc_id, regexp_extract_all(text, '\\S+') AS t FROM documents
    ),
    shingles AS (
      SELECT DISTINCT doc_id,
             concat_ws(' ', t[i], t[i+1], t[i+2]) AS shingle
      FROM toks, UNNEST(range(1, greatest(len(t) - 1, 1))) AS u(i)
    ),
    sizes AS (SELECT doc_id, count(*) AS set_size FROM shingles GROUP BY 1),
    inter_c AS (
      SELECT c.doc_a, c.doc_b, count(*) AS inter
      FROM simcand c
      JOIN shingles a ON a.doc_id = c.doc_a
      JOIN shingles b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
      GROUP BY 1, 2
    )
    SELECT c.doc_a, c.doc_b, c.hamming,
           CAST(inter AS DOUBLE) / (sa.set_size + sb.set_size - inter)
             AS jaccard
    FROM inter_c
    JOIN simcand c USING (doc_a, doc_b)
    JOIN sizes sa ON sa.doc_id = c.doc_a
    JOIN sizes sb ON sb.doc_id = c.doc_b
    WHERE CAST(inter AS DOUBLE) / (sa.set_size + sb.set_size - inter) >= 0.5
    """,
)
def d4v_simhash_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash candidates exact-verified — d3v's candidate→verify
    production shape with the OTHER sketch family: banded SimHash64
    (Hamming ≤ 3) proposes pairs, exact 3-shingle Jaccard (≥ 0.5)
    confirms them, and each surviving pair carries BOTH distances so
    the two signals can be calibrated against each other (simhash
    approximates weighted-token cosine, minhash approximates Jaccard
    — pairs where they disagree are exactly the quote/template cases
    d10 hunts). Unlike d3v, whose oracle is the exact all-pairs truth
    (a recall proof), d4v's oracle REPLAYS the md5-family simhash
    pipeline and then verifies in SQL — structural parity that holds
    on any corpus, since simhash carries no Jaccard recall guarantee
    to prove.

    Scale shape: candidates come from the pigeonhole 16-bit band join
    (never corpus-quadratic, :func:`...functions.dedup.
    simhash_band_pairs`); verification is the array-intersect form
    (:func:`...functions.dedup.exact_jaccard_for_pairs`) — linear in
    candidate volume, shingle arrays built only for docs in some
    pair. The hamming column rides along on the pair key."""
    from ..functions.dedup import exact_jaccard_for_pairs, simhash_band_pairs

    docs = load(spark, sf_dir, "documents")
    cands = simhash_band_pairs(docs)
    verified = exact_jaccard_for_pairs(docs, cands).filter(
        F.col("jaccard") >= 0.5
    )
    return verified.join(cands, ["doc_a", "doc_b"]).select(
        "doc_a", "doc_b", "hamming", "jaccard"
    )


# --------------------------------------------------------------------------
# cov1 — per-label embedding-space cell coverage (round 9)
# --------------------------------------------------------------------------

_COV1_CELLS = 16

_COV1_SQL = f"""
    WITH {{assign}},
    lab AS (
      SELECT a.cluster, e.label
      FROM assigned a JOIN embeddings e USING (vec_id)
    ),
    pc AS (
      SELECT label, cluster, CAST(count(*) AS BIGINT) AS cnt
      FROM lab GROUP BY label, cluster
    )
    SELECT label,
           CAST(sum(cnt) AS BIGINT) AS n_vecs,
           CAST(count(*) AS BIGINT) AS n_cells,
           (1000 * CAST(count(*) AS BIGINT)) // {_COV1_CELLS}
             AS coverage_permille,
           arg_min(cluster,
                   CAST(-cnt AS HUGEINT) * 4294967296 + cluster)
             AS top_cluster,
           (1000000 * max(cnt)) // CAST(sum(cnt) AS BIGINT)
             AS top_cell_share_ppm
    FROM pc GROUP BY label
""".format(assign=_ivfm_assign_ctes(_COV1_CELLS))


@query("cov1_embedding_cell_coverage", oracle=_COV1_SQL)
def cov1_embedding_cell_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding-space coverage audit: how many of the IVF
    coarse cells does each label's vector population occupy, and how
    concentrated is it in its top cell — the mode-collapse / diversity
    signal a curation pipeline reads per class or per source before
    sampling (a label whose vectors all land in one of 16 cells is a
    near-duplicate cluster or a collapsed embedding, the SemDeDup
    precondition sdd1 then acts on). Published shape: cluster-occupancy
    diversity audits over quantized embeddings (the IVF occupancy
    histogram every FAISS deployment inspects).

    Exactness: the cell assignment is the md5-family IVF build DuckDB
    replays bit-for-bit (``_md5_ivf_parts`` / ``_ivfm_assign_ctes`` —
    the sim_ivfm/sdd1/rec1 machinery); occupancy counts are BIGINTs;
    coverage and top-cell share are integral divisions; the top cell
    tiebreaks through the (−cnt)·2³² + cluster encoding evaluated in
    DECIMAL(38,0) (Spark) / HUGEINT (DuckDB) so the key is exact for
    ANY bigint cnt/cluster — no silent long wrap on either engine.
    Zero-norm vectors and the query vector are excluded by
    the same norm guard as every other consumer of the index.

    Scale shape: the assignment is a narrow broadcast-argmin
    projection on the embeddings scan (no ×16 fanout); the audit
    itself is ONE (label, cluster) groupBy — at most
    |labels|·n_cells rows — re-aggregated per label. Nothing here
    grows with corpus size except the one pass over vectors."""
    labels = load(spark, sf_dir, "embeddings").select("vec_id", "label")
    _, assigned, _ = _md5_ivf_parts(spark, sf_dir, n_centroids=_COV1_CELLS)
    pc = (
        assigned.select("vec_id", "cluster")
        .join(labels, "vec_id")
        .groupBy("label", "cluster")
        .agg(F.count("*").cast("long").alias("cnt"))
    )
    # DECIMAL(38,0)/HUGEINT keep the encoded key exact for ANY bigint
    # cnt/cluster — Spark would silently wrap a long multiply past 2^63
    # while DuckDB raises, so both engines now take the wide-int path.
    top_key = (
        (-F.col("cnt")).cast("decimal(38,0)")
        * F.lit(4294967296).cast("decimal(38,0)")
        + F.col("cluster")
    )
    return pc.groupBy("label").agg(
        F.sum("cnt").cast("long").alias("n_vecs"),
        F.count("*").cast("long").alias("n_cells"),
        F.expr(f"(1000 * count(*)) div {_COV1_CELLS}").alias(
            "coverage_permille"
        ),
        F.min_by("cluster", top_key).alias("top_cluster"),
        F.expr("(1000000 * max(cnt)) div sum(cnt)").alias(
            "top_cell_share_ppm"
        ),
    )


# --------------------------------------------------------------------------
# m4 — multimodal payload exact-dedup audit (round 9)
# --------------------------------------------------------------------------

_M4_SQL = """
    WITH f AS (
      SELECT doc_id, source,
             CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
             md5(text) AS cid
      FROM documents
      WHERE text IS NOT NULL AND doc_id IS NOT NULL
    ),
    c AS (SELECT cid, min(doc_id) AS canon FROM f GROUP BY cid)
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_payloads,
           CAST(sum(n_bytes) AS BIGINT) AS total_bytes,
           CAST(count(*) FILTER (doc_id <> canon) AS BIGINT) AS dup_payloads,
           CAST(coalesce(sum(n_bytes) FILTER (doc_id <> canon), 0) AS BIGINT)
             AS dup_bytes
    FROM f JOIN c USING (cid)
    GROUP BY source
"""


@query("m4_payload_dedup_audit", oracle=_M4_SQL)
def m4_payload_dedup_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal exact-dedup planning report: per source, how many
    opaque payloads are byte-identical copies of an earlier payload
    (content-hash dedup on the m1 features — the step every
    image/audio corpus runs on media hashes before any perceptual
    dedup; LAION-style pipelines dedup on exact content digests
    first) and how many bytes deleting the copies would reclaim.
    Canonical = lowest doc_id per content hash (the d1/d7 keep-rule).

    The content ids flow through the REAL multimodal path — the
    Arrow-batched ``mapInPandas`` decode hook of m1
    (``extract_binary_features``), not a SQL md5() — so this query
    proves the plumbing composes: Python-stage features joining and
    aggregating with JVM-side relational ops in one plan. The oracle
    recomputes the same md5/octet_length on the text bytes.

    Exactness: counts and byte sums are BIGINTs; the canonical pick
    is an integer min. NULL payloads and NULL ids are excluded by
    policy (a NULL payload is absence, not a duplicate of other
    NULLs; m1 itself keeps them to prove NULL-safety).

    Scale shape: ONE mapInPandas pass over payload bytes (the decode
    stage a real deployment spends its cycles in), one content-hash
    groupBy for canonicals (map-side combinable), one join back on
    the hash, one per-source aggregate. The join key is the 32-char
    digest — never payload bytes — so shuffle volume is metadata-
    sized regardless of media size."""
    from ..functions.multimodal import (
        documents_as_media,
        extract_binary_features,
    )

    docs = load(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull() & F.col("doc_id").isNotNull()
    )
    feats = extract_binary_features(documents_as_media(docs))
    f = feats.join(docs.select("doc_id", "source"), "doc_id").select(
        "doc_id",
        "source",
        F.col("n_bytes").cast("long").alias("n_bytes"),
        F.col("content_id").alias("cid"),
    )
    canon = f.groupBy("cid").agg(F.min("doc_id").alias("canon"))
    j = f.join(canon, "cid")
    is_dup = F.col("doc_id") != F.col("canon")
    return j.groupBy("source").agg(
        F.count("*").cast("long").alias("n_payloads"),
        F.sum("n_bytes").cast("long").alias("total_bytes"),
        F.count_if(is_dup).cast("long").alias("dup_payloads"),
        F.coalesce(F.sum(F.when(is_dup, F.col("n_bytes"))), F.lit(0))
        .cast("long")
        .alias("dup_bytes"),
    )


# --------------------------------------------------------------------------
# m5 — cross-video duplicate-frame overlap pairs (round 9)
# --------------------------------------------------------------------------

_M5_FRAME_BYTES = 256
_M5_DF_CAP = 20  # drop frame sigs shared by more docs (stop-frame prune)
_M5_MIN_SHARED = 2

_M5_SQL = f"""
    WITH f AS (
      SELECT DISTINCT doc_id,
             md5(substr(text, CAST(i * {_M5_FRAME_BYTES} + 1 AS INTEGER),
                        {_M5_FRAME_BYTES})) AS sig
      FROM documents,
           UNNEST(range(0, CAST(floor(length(text) / {_M5_FRAME_BYTES})
                               AS BIGINT))) u(i)
      WHERE doc_id IS NOT NULL AND text IS NOT NULL
    ),
    keep AS (
      SELECT sig FROM f GROUP BY sig
      HAVING count(*) BETWEEN 2 AND {_M5_DF_CAP}
    ),
    fk AS (SELECT doc_id, sig FROM f JOIN keep USING (sig))
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(count(*) AS BIGINT) AS shared_frames
    FROM fk a JOIN fk b ON a.sig = b.sig AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
    HAVING count(*) >= {_M5_MIN_SHARED}
"""


@query("m5_frame_overlap_pairs", oracle=_M5_SQL)
def m5_frame_overlap_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-video duplicate-frame detection: pairs of payloads that
    share ≥ {_M5_MIN_SHARED} identical fixed-stride frames — the
    frame-fingerprint near-dup pass a video corpus runs after m2's
    sampling (re-encoded/re-uploaded clips keep byte-identical frames
    long after container metadata diverges; frame-hash overlap is the
    standard first-pass detector before any perceptual hash). The
    winnow2 shape applied to the multimodal frame stream.

    Scale shape: frames dedup to (doc, sig) once; frame sigs shared
    by MORE than {_M5_DF_CAP} docs are dropped before the self-join
    (the d2b/winnow2 stop-key prune — a black/padding frame appearing
    everywhere is exactly the hot key that would explode the join),
    so per-sig fanout is ≤ cap² and the pair stream stays bounded.
    Counts are BIGINTs; pair order is pinned doc_a < doc_b; the
    oracle replays the identical slicing, hashing, cap and join.

    The text column stands in for payload bytes exactly as in m1/m2;
    a real deployment swaps the substr framing for m2's
    ``frame_sample`` over binary payloads — same plan shape."""
    n = _M5_FRAME_BYTES
    docs = load(spark, sf_dir, "documents").filter(
        F.col("doc_id").isNotNull() & F.col("text").isNotNull()
    )
    # guard the frame count: Spark's sequence(0, -1) counts BACKWARDS
    # (the m2/frame_sample precedent), so sub-frame-length docs must
    # route through an empty array, not a descending index range
    f = (
        docs.select(
            "doc_id",
            F.explode(
                F.expr(
                    f"CASE WHEN length(text) >= {n} THEN "
                    f"transform(sequence(0, int(floor(length(text) / {n})) - 1),"
                    f" i -> md5(substr(text, i * {n} + 1, {n}))) "
                    f"ELSE array() END"
                )
            ).alias("sig"),
        )
        .distinct()
    )
    keep = (
        f.groupBy("sig")
        .agg(F.count("*").alias("df"))
        .filter((F.col("df") >= 2) & (F.col("df") <= _M5_DF_CAP))
        .select("sig")
    )
    fk = f.join(keep, "sig")
    a = fk.select(F.col("doc_id").alias("doc_a"), "sig")
    b = fk.select(F.col("doc_id").alias("doc_b"), "sig")
    return (
        a.join(b, "sig")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").cast("long").alias("shared_frames"))
        .filter(F.col("shared_frames") >= _M5_MIN_SHARED)
    )


# --------------------------------------------------------------------------
# aniso1 — embedding anisotropy / class separation via the sum-vector
# identity (round 10)
# --------------------------------------------------------------------------

#: quantized unit-vector scale (micro-units) and the floor-shift that
#: keeps every integral division non-negative: |mean cosine| ≤ 1 plus
#: a < 2e-5 quantization slack, so shifting by 1e12 + 1e8 per pair
#: covers the whole range
_ANISO1_SHIFT = 10**12 + 10**8

_ANISO1_SQL = f"""
WITH base AS (
  SELECT label,
         embedding,
         sqrt(CAST(CAST(list_sum(list_transform(embedding,
              x -> COALESCE(CAST(round(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)
                                       * 1e14) AS BIGINT), 0)))
              AS BIGINT) AS DOUBLE)) AS ns
  FROM embeddings WHERE embedding IS NOT NULL
),
b2 AS (SELECT label, embedding, ns FROM base WHERE ns > 0),
el AS (
  SELECT label, CAST(i AS INTEGER) AS pos,
         CAST(floor(CAST(embedding[i] AS DOUBLE) * 1e13 / ns) AS BIGINT)
           AS qv
  FROM b2, UNNEST(generate_series(1, len(embedding))) AS t(i)
),
ld AS (
  SELECT label, pos,
         SUM(CAST(qv AS HUGEINT)) AS s,
         SUM(CAST(qv AS HUGEINT) * qv) AS ss
  FROM el GROUP BY label, pos
),
g AS (SELECT pos, SUM(s) AS gs FROM ld GROUP BY pos),
per AS (
  SELECT ld.label,
         SUM(ld.s * ld.s) - SUM(ld.ss) AS within_num,
         SUM(ld.s * (g.gs - ld.s)) AS between_num
  FROM ld JOIN g USING (pos) GROUP BY ld.label
),
nl AS (SELECT label, CAST(count(*) AS BIGINT) AS n FROM b2 GROUP BY label),
nn AS (SELECT SUM(n) AS nt FROM nl)
SELECT p.label,
       nl.n AS n_vecs,
       CAST(CASE WHEN nl.n >= 2 THEN
         (p.within_num + CAST(nl.n AS HUGEINT) * (nl.n - 1) * {_ANISO1_SHIFT})
           // (CAST(nl.n AS HUGEINT) * (nl.n - 1) * 1000000)
           - {_ANISO1_SHIFT // 10**6}
       END AS BIGINT) AS within_cos_ppm,
       CAST(CASE WHEN nn.nt > nl.n THEN
         (p.between_num + CAST(nl.n AS HUGEINT) * (nn.nt - nl.n)
            * {_ANISO1_SHIFT})
           // (CAST(nl.n AS HUGEINT) * (nn.nt - nl.n) * 1000000)
           - {_ANISO1_SHIFT // 10**6}
       END AS BIGINT) AS between_cos_ppm
FROM per p JOIN nl USING (label) CROSS JOIN nn
"""


@query("aniso1_embedding_anisotropy", oracle=_ANISO1_SQL)
def aniso1_embedding_anisotropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding anisotropy / class-separation audit: the
    mean pairwise cosine WITHIN each label and BETWEEN the label and
    the rest of the corpus, in exact ppm. Ethayarajh 2019 ("How
    Contextual are Contextualized Word Representations?") defines
    anisotropy as the expected cosine between random embeddings; a
    label whose within-mean ≈ 1 is collapsed (near-duplicate cluster
    or degenerate encoder — the sdd1/cov1 precondition), and
    within ≫ between is exactly the separation a linear probe needs.

    The 100 TB trick is the SUM-VECTOR IDENTITY: for unit vectors,
    Σ_{{i≠j∈L}} uᵢ·uⱼ = ‖Σ_{{i∈L}} uᵢ‖² − Σ_{{i∈L}}‖uᵢ‖², and the
    between-class sum is S_L·(S_corpus − S_L) — so BOTH statistics
    come from one per-(label, dim) aggregate with NO pairwise join of
    any kind: the only corpus-scale work is one explode + one
    map-side-combinable groupBy to ≤ |labels|·64 rows.

    Exactness: each vector is unit-normalized once — the norm is the
    knn1/long_prod integer-quantized self-dot (Σ round(x²·1e14) →
    BIGINT, then one sqrt both engines round identically) — and the
    normalized components are quantized by FLOOR(u·1e6) (floor of the
    same IEEE double is binary-exact in both engines, immune to the
    ent1 shortest-decimal-half rounding trap). From there everything
    is exact HUGEINT/DECIMAL(38,0) integer arithmetic; the ppm exit
    is the kw1 exact-floor division, shifted non-negative first
    because Spark's decimal division truncates toward zero while
    DuckDB's // floors (they disagree on negatives). Zero-norm
    vectors are excluded by the established guard; labels with n < 2
    (no within pair) and labels covering the whole corpus (no between
    pair) surface NULL, never 0/0. NULL array elements count as 0 in
    the norm on both engines and their qv drops out of every SUM."""
    emb = load(spark, sf_dir, "embeddings").select("label", "embedding")
    nd2 = F.aggregate(
        F.transform(
            F.col("embedding"),
            lambda x: F.coalesce(
                F.round(
                    x.cast("double") * x.cast("double") * F.lit(1e14)
                ).cast("long"),
                F.lit(0).cast("long"),
            ),
        ),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    base = (
        emb.filter(F.col("embedding").isNotNull())
        .withColumn("ns", F.sqrt(nd2.cast("double")))
        .filter(F.col("ns") > 0)
    )
    qarr = F.transform(
        F.col("embedding"),
        lambda x: F.floor(x.cast("double") * F.lit(1e13) / F.col("ns")).cast(
            "long"
        ),
    )
    el = base.select("label", F.posexplode(qarr).alias("pos", "qv"))
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    ld = el.groupBy("label", "pos").agg(
        F.sum(dec(F.col("qv"))).alias("s"),
        F.sum(dec(F.col("qv")) * F.col("qv")).alias("ss"),
    )
    g = ld.groupBy("pos").agg(F.sum("s").alias("gs"))
    per = (
        ld.join(F.broadcast(g), "pos")
        .groupBy("label")
        .agg(
            (F.sum(F.col("s") * F.col("s")) - F.sum("ss")).alias(
                "within_num"
            ),
            F.sum(F.col("s") * (F.col("gs") - F.col("s"))).alias(
                "between_num"
            ),
        )
    )
    nl = base.groupBy("label").agg(F.count("*").cast("long").alias("n"))
    nn = nl.agg(F.sum("n").cast("long").alias("nt"))

    # kw1 exact floor on the shifted (guaranteed non-negative) numerator
    def ppm(num, d):
        den = dec(d) * F.lit(10**6).cast("decimal(38,0)")
        a = num + dec(d) * F.lit(_ANISO1_SHIFT).cast("decimal(38,0)")
        fl = ((a - F.pmod(a, den)) / den).cast("decimal(38,0)")
        return (
            F.when(d > 0, fl.cast("long") - F.lit(_ANISO1_SHIFT // 10**6))
            .cast("long")
        )

    d_w = F.col("n") * (F.col("n") - 1)
    d_b = F.col("n") * (F.col("nt") - F.col("n"))
    return (
        per.join(nl, "label")
        .join(F.broadcast(nn))
        .select(
            "label",
            F.col("n").alias("n_vecs"),
            ppm(F.col("within_num"), d_w).alias("within_cos_ppm"),
            ppm(F.col("between_num"), d_b).alias("between_cos_ppm"),
        )
    )


# --------------------------------------------------------------------------
# da1 — dedup-detector agreement audit (round 10)
# --------------------------------------------------------------------------

_DA1_SQL = materialized(f"""
WITH {_D4_FP_CTES},
lshp AS (SELECT doc_a, doc_b FROM ({_D3M_SQL}) t),
shp AS (SELECT doc_a, doc_b FROM simcand),
u AS (
  SELECT l.doc_a IS NOT NULL AS in_lsh, s.doc_a IS NOT NULL AS in_sh
  FROM lshp l FULL OUTER JOIN shp s
    ON l.doc_a = s.doc_a AND l.doc_b = s.doc_b
)
SELECT CAST(count(*) FILTER (in_lsh) AS BIGINT) AS n_lsh_pairs,
       CAST(count(*) FILTER (in_sh) AS BIGINT) AS n_simhash_pairs,
       CAST(count(*) FILTER (in_lsh AND in_sh) AS BIGINT) AS n_both,
       CAST(count(*) AS BIGINT) AS n_union,
       CAST((1000000 * count(*) FILTER (in_lsh AND in_sh))
            // NULLIF(CAST(count(*) AS BIGINT), 0) AS BIGINT)
         AS agreement_ppm
FROM u
""")


@query("da1_detector_agreement", oracle=_DA1_SQL)
def da1_detector_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-detector dedup agreement audit: the pair-set Jaccard
    between the corpus' two independent near-dup detectors — the
    MinHash-LSH n-gram-Jaccard family (d3m: est ≥ 0.5) and the
    SimHash bag-of-words family (d4: Hamming ≤ 3). The two sketches
    measure DIFFERENT similarity (shingle-set overlap vs weighted
    token-vector angle), so partial agreement is expected and its
    LEVEL is the monitoring signal: a production dedup pipeline that
    runs one family cheap and the other as audit cadence reads this
    number to decide whether the cheap family is drifting (e.g. a new
    boilerplate pattern SimHash sees but 3-gram LSH does not).
    Measured here: 82% pair-set agreement at sf0.001, 48% at sf0.01 —
    the kind of corpus-dependent drift the audit exists to surface.

    Exactness: both pair machines are the md5-derived cross-engine
    families their own oracles replay bit-for-bit (d3m's Kirsch-
    Mitzenmacher signatures, d4's votes fingerprint); the agreement
    summary is four BIGINT counts off one full-outer join of the two
    pair sets plus ONE integral division (ppm), NULL on the empty
    union — nothing to round.

    Scale shape: strictly the union of d3m's and d4's documented
    shapes (one shingle explode + one min-agg shuffle + banded bucket
    self-join; one token explode + one 64-column vote shuffle +
    pigeonhole band join) followed by a full-outer join of two
    PAIR-SIZED relations (≪ corpus) and a 1-row aggregate."""
    from ..functions.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
        simhash_band_pairs,
    )

    docs = load(spark, sf_dir, "documents")
    sigs = minhash_signatures(docs, hash_family="md5")
    lshp = (
        lsh_candidate_pairs(sigs, band_key="slice")
        .filter(F.col("est_jaccard") >= 0.5)
        .select("doc_a", "doc_b", F.lit(1).alias("in_lsh"))
    )
    shp = simhash_band_pairs(docs).select(
        "doc_a", "doc_b", F.lit(1).alias("in_sh")
    )
    u = lshp.join(shp, ["doc_a", "doc_b"], "full_outer")
    return u.agg(
        F.count("in_lsh").cast("long").alias("n_lsh_pairs"),
        F.count("in_sh").cast("long").alias("n_simhash_pairs"),
        F.count(
            F.when(F.col("in_lsh").isNotNull() & F.col("in_sh").isNotNull(), 1)
        )
        .cast("long")
        .alias("n_both"),
        F.count("*").cast("long").alias("n_union"),
        F.expr(
            "CAST((1000000 * count(CASE WHEN in_lsh IS NOT NULL AND in_sh IS"
            " NOT NULL THEN 1 END)) div nullif(count(*), 0) AS BIGINT)"
        ).alias("agreement_ppm"),
    )


# --------------------------------------------------------------------------
# m6 — video scene-change segmentation over the frame stream (round 10)
# --------------------------------------------------------------------------

_M6_FB = 48  # frame stride (bytes of the stand-in payload per frame)
_M6_T = 3000  # cut threshold on the per-mille mean-byte feature delta

_M6_SQL = f"""
WITH f AS (
  SELECT doc_id, CAST(i AS INTEGER) AS frame_idx,
         substr(text, CAST(i * {_M6_FB} + 1 AS INTEGER), {_M6_FB}) AS frame
  FROM documents,
       UNNEST(range(0, CAST(floor(length(text) / {_M6_FB}) AS BIGINT))) u(i)
  WHERE doc_id IS NOT NULL AND text IS NOT NULL
),
feat AS (
  SELECT doc_id, frame_idx,
         (1000 * list_sum(list_transform(
              range(1, CAST(length(frame) AS INTEGER) + 1),
              i -> ord(substr(frame, CAST(i AS INTEGER), 1)))))
           // length(frame) AS f
  FROM f
),
lagged AS (
  SELECT doc_id, frame_idx, f,
         CASE WHEN frame_idx > 0
                   AND abs(f - lag(f) OVER (PARTITION BY doc_id
                                            ORDER BY frame_idx)) > {_M6_T}
              THEN 1 ELSE 0 END AS cut
  FROM feat
),
scened AS (
  SELECT doc_id, frame_idx,
         CAST(SUM(cut) OVER (PARTITION BY doc_id
                             ORDER BY frame_idx) AS BIGINT) AS scene_id
  FROM lagged
)
SELECT doc_id, scene_id,
       CAST(min(frame_idx) AS INTEGER) AS start_frame,
       CAST(max(frame_idx) AS INTEGER) AS end_frame,
       CAST(count(*) AS BIGINT) AS n_frames
FROM scened GROUP BY doc_id, scene_id
"""


@query("m6_scene_segments", oracle=_M6_SQL)
def m6_scene_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video scene-change segmentation over m2's frame stream: a cut
    fires where consecutive frames' content feature jumps by more
    than a threshold, and the running cut count becomes the scene id
    (gaps-and-islands, the itv1 shape) — the shot-boundary-detection
    preprocessing every video curation pipeline runs before per-scene
    sampling/captioning (published shape: threshold-on-frame-
    difference shot detection, the classic pre-neural baseline).
    The document text stands in for the byte payload exactly as in
    m1/m2/m4/m5; the feature is the per-mille mean byte value — the
    integer analog of the mean-luma difference real shot detectors
    threshold.

    Exactness: the feature is ONE integral division of the exact
    per-frame code-point sum (both engines substring by CHARACTER and
    agree on code points); the cut predicate compares exact BIGINTs
    against the integer threshold; scene ids are running BIGINT sums
    over the (doc, frame_idx) order, which is unique per doc — no
    tie, no float, nothing to round.

    Scale shape: the frame expansion is m2's narrow generate (no
    shuffle); the per-frame feature is a codegen'd character fold;
    the lag and running-sum windows are BOTH doc-keyed (frames per
    doc are bounded by payload size, so no skewed window), and the
    final per-(doc, scene) rollup is map-side combinable on the same
    key. One doc-keyed exchange end to end."""
    docs = load(spark, sf_dir, "documents").filter(
        F.col("doc_id").isNotNull() & F.col("text").isNotNull()
    )
    from ..functions.multimodal import frame_sample

    frames = frame_sample(
        docs.select("doc_id", F.col("text").alias("payload")),
        frame_bytes=_M6_FB,
    )
    feat = frames.select(
        "doc_id",
        "frame_idx",
        F.expr(
            "(1000 * aggregate(transform(sequence(1, length(frame)),"
            " i -> ascii(substring(frame, i, 1))), 0L, (a, x) -> a + x))"
            " div length(frame)"
        ).alias("f"),
    )
    w = Window.partitionBy("doc_id").orderBy("frame_idx")
    lagged = feat.select(
        "doc_id",
        "frame_idx",
        F.when(
            (F.col("frame_idx") > 0)
            & (F.abs(F.col("f") - F.lag("f").over(w)) > _M6_T),
            1,
        )
        .otherwise(0)
        .alias("cut"),
    )
    scened = lagged.select(
        "doc_id",
        "frame_idx",
        F.sum("cut")
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("long")
        .alias("scene_id"),
    )
    return scened.groupBy("doc_id", "scene_id").agg(
        F.min("frame_idx").cast("int").alias("start_frame"),
        F.max("frame_idx").cast("int").alias("end_frame"),
        F.count("*").cast("long").alias("n_frames"),
    )


# --------------------------------------------------------------------------
# emb10 — distance-concentration (relative contrast) audit (round 10)
# --------------------------------------------------------------------------

_EMB10_SQL = """
WITH q AS (
  SELECT CAST(i AS INTEGER) AS pos,
         CAST(round(CAST(embedding[i] AS DOUBLE) * 1e7) AS BIGINT) AS qc
  FROM embeddings, UNNEST(generate_series(1, len(embedding))) t(i)
  WHERE vec_id = 0
),
x AS (
  SELECT vec_id, CAST(i AS INTEGER) AS pos,
         CAST(round(CAST(embedding[i] AS DOUBLE) * 1e7) AS BIGINT) AS xc
  FROM embeddings, UNNEST(generate_series(1, len(embedding))) t(i)
  WHERE vec_id <> 0 AND vec_id IS NOT NULL
),
d AS (
  SELECT x.vec_id,
         CAST(SUM(CAST((x.xc - q.qc) AS HUGEINT) * (x.xc - q.qc))
           AS HUGEINT) AS d2
  FROM x JOIN q USING (pos) GROUP BY x.vec_id
)
SELECT CAST(count(*) AS BIGINT) AS n_vecs,
       CAST(min(d2) AS BIGINT) AS d2_min,
       CAST(max(d2) AS BIGINT) AS d2_max,
       CAST((1000000 * (max(d2) - min(d2))) // NULLIF(min(d2), 0) AS BIGINT)
         AS contrast_ppm
FROM d
"""


@query("emb10_distance_concentration", oracle=_EMB10_SQL)
def emb10_distance_concentration(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Distance-concentration audit (Beyer, Goldstein, Ramakrishnan &
    Shaft 1999, "When is 'nearest neighbor' meaningful?"): the
    RELATIVE CONTRAST (Dmax − Dmin)/Dmin of all corpus distances to
    the reference vector — the published meaningfulness criterion for
    nearest-neighbor search. As dimension grows (or an encoder
    degenerates toward a shell), contrast → 0 and every ANN structure
    (sim_ivf, hn1, knn1) returns noise; a pipeline checks this number
    BEFORE trusting top-k similarity. Squared L2 keeps the ratio
    monotone-equivalent (contrast is scale-free either way).

    Exactness: coordinates quantize once to the km1/kcen1 1e-7 grid
    (round of a raw float32→double element, the emb6-proven path);
    squared distances are exact HUGEINT/DECIMAL sums; min/max are
    integer comparisons and the contrast exits as ONE integral ppm
    division, NULL when Dmin = 0 (a duplicate of the reference —
    contrast undefined, exactly when NN is trivially meaningful).

    Scale shape: ONE pass — the 64-row reference broadcasts onto the
    exploded corpus, per-vector distances are a map-side-combinable
    groupBy, and the audit is a 1-row aggregate. No pairwise join:
    contrast against a fixed reference is the Beyer et al. query-
    centric form."""
    emb = load(spark, sf_dir, "embeddings")
    ex = emb.select(
        "vec_id", F.posexplode("embedding").alias("pos", "xf")
    ).select(
        "vec_id",
        "pos",
        F.round(F.col("xf").cast("double") * F.lit(1e7))
        .cast("long")
        .alias("c"),
    )
    q = ex.filter(F.col("vec_id") == 0).select(
        "pos", F.col("c").alias("qc")
    )
    dec = lambda col: col.cast("decimal(38,0)")  # noqa: E731
    d = (
        ex.filter(F.col("vec_id").isNotNull() & (F.col("vec_id") != 0))
        .join(F.broadcast(q), "pos")
        .groupBy("vec_id")
        .agg(
            F.sum(dec(F.col("c") - F.col("qc")) * (F.col("c") - F.col("qc")))
            .alias("d2")
        )
    )
    return d.agg(
        F.count("*").cast("long").alias("n_vecs"),
        F.min("d2").cast("long").alias("d2_min"),
        F.max("d2").cast("long").alias("d2_max"),
        F.expr(
            "CAST((1000000 * (max(d2) - min(d2))) div nullif(min(d2), 0)"
            " AS BIGINT)"
        ).alias("contrast_ppm"),
    )


# --------------------------------------------------------------------------
# d12 — exact-duplicate cluster-size spectrum (round 10)
# --------------------------------------------------------------------------

_D12_SQL = """
WITH docs AS (
  SELECT md5(text) AS h, CAST(length(text) AS BIGINT) AS ch
  FROM documents WHERE text IS NOT NULL
),
tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM docs),
cl AS (
  SELECT h, CAST(count(*) AS BIGINT) AS k, CAST(sum(ch) AS BIGINT) AS ch
  FROM docs GROUP BY h
)
SELECT cl.k AS cluster_size,
       CAST(count(*) AS BIGINT) AS n_clusters,
       CAST(sum(cl.k) AS BIGINT) AS n_docs,
       CAST(sum(cl.k - 1) AS BIGINT) AS n_dup_docs,
       CAST(sum(cl.ch) AS BIGINT) AS n_chars,
       CAST((1000 * sum(cl.k)) // t.n AS BIGINT) AS docs_permille
FROM cl CROSS JOIN tot t
GROUP BY cl.k, t.n
"""


@query("d12_dup_cluster_spectrum", oracle=_D12_SQL)
def d12_dup_cluster_spectrum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-duplicate CLUSTER-SIZE SPECTRUM: how many content
    clusters exist at each multiplicity k, and how many documents,
    removable duplicates, and characters they hold — the dup-
    accounting table C4 (Raffel et al. 2020) and FineWeb (Penedo et
    al. 2024) publish before choosing a dedup policy: a corpus whose
    mass sits in k=2 clusters behaves differently from one with a few
    giant boilerplate clusters, and n_dup_docs = sum(k-1) IS the
    deletion budget exact dedup (d1) would spend. Complements d1
    (per-cluster keep rule) and m4 (payload bytes reclaimable) with
    the corpus-level distribution over multiplicities.

    Exactness: pure BIGINT counting off md5 content groups (the d1
    key); the only division is one integral permille share by the
    broadcast corpus total (non-negative, div == //). NULL texts are
    excluded — NULL has no content identity to cluster on (d1 keeps
    its NULL group because its unit is the keep-decision, not the
    cluster census).

    Scale shape: two map-side-combinable groupBys — (hash) then
    (cluster size); the second input is one row per DISTINCT content,
    the spectrum is bounded by the largest multiplicity. The 1-row
    total broadcasts. Never shuffles payload text, only 32-char
    digests — the m4 rule."""
    docs = (
        load(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull())
        .select(
            F.md5(F.col("text").cast("binary")).alias("h"),
            F.length("text").cast("long").alias("ch"),
        )
    )
    tot = docs.agg(F.count("*").cast("long").alias("n"))
    cl = docs.groupBy("h").agg(
        F.count("*").cast("long").alias("k"),
        F.sum("ch").cast("long").alias("ch"),
    )
    return (
        cl.crossJoin(F.broadcast(tot))
        .groupBy(F.col("k").alias("cluster_size"), "n")
        .agg(
            F.count("*").cast("long").alias("n_clusters"),
            F.sum("k").cast("long").alias("n_docs"),
            F.sum(F.col("k") - 1).cast("long").alias("n_dup_docs"),
            F.sum("ch").cast("long").alias("n_chars"),
        )
        .select(
            "cluster_size",
            "n_clusters",
            "n_docs",
            "n_dup_docs",
            "n_chars",
            F.expr("CAST((1000 * n_docs) div n AS BIGINT)").alias(
                "docs_permille"
            ),
        )
    )


# --------------------------------------------------------------------------
# erank1 — participation-ratio effective rank of the embedding space
# --------------------------------------------------------------------------

_ERANK_SHIFT = 1_000_000_000  # scale floor keeping (sum v')^2 * 1e6 < 10^38


_ERANK_SQL = f"""
WITH base AS (
  SELECT vec_id, embedding FROM embeddings WHERE embedding IS NOT NULL
),
x AS (
  SELECT CAST(i AS INTEGER) AS pos,
         CAST(round(CAST(embedding[i] AS DOUBLE) * 1e7) AS BIGINT) AS c
  FROM base, UNNEST(generate_series(1, len(embedding))) t(i)
),
dims AS (
  SELECT pos,
         CAST(count(c) AS HUGEINT) AS n,
         CAST(coalesce(sum(c), 0) AS HUGEINT) AS s,
         CAST(coalesce(sum(CAST(c AS HUGEINT) * c), 0) AS HUGEINT) AS q
  FROM x GROUP BY pos
),
v AS (
  SELECT pos, (n * q - s * s) // {_ERANK_SHIFT} AS vp
  FROM dims
)
SELECT (SELECT CAST(count(*) AS BIGINT) FROM base) AS n_vecs,
       CAST(count(*) AS BIGINT) AS n_dims,
       CAST(sum(vp) AS BIGINT) AS sum_var_scaled,
       CAST((1000000 * CAST(sum(vp) AS HUGEINT) * sum(vp))
            // NULLIF(sum(CAST(vp AS HUGEINT) * vp), 0) AS BIGINT)
         AS pr_micro
FROM v
"""


@query("erank1_participation_ratio", oracle=_ERANK_SQL)
def erank1_participation_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Participation-ratio effective rank of the embedding space:
    PR = (sum_d var_d)^2 / sum_d var_d^2 over the per-dimension
    variances (the covariance DIAGONAL) — the standard effective-
    dimensionality readout of a representation (Gao et al. 2017
    "theory of multineuronal dimensionality"; Recanatesi et al. 2019;
    effective rank per Roy & Vetterli 2007 is the entropy variant).
    PR = n_dims means isotropic variance (every dimension carries
    signal), PR -> 1 means variance collapsed onto one axis — the
    embedding-collapse failure mode that silently breaks every
    downstream cosine/ANN operator (sim_*, sdd1, hn1); run THIS gate
    alongside emb10's distance-contrast and aniso1's mean-cosine
    before trusting similarity search. Diagonal-only by design: the
    full-spectrum version is pca1's power iteration; the diagonal PR
    needs just ONE counting pass.

    Exactness: coordinates quantize once to the 1e-7 grid (the
    emb6/emb10 path); per-dim variance NUMERATORS n*Q - S^2 are exact
    HUGEINT/DECIMAL(38,0) (n_d per dim, so ragged adversarial vectors
    stay well-defined); each scales down by ONE integral division by
    {_ERANK_SHIFT} (non-negative: n*Q >= S^2 by Cauchy-Schwarz, so
    div == //), sized so (sum v')^2 * 1e6 stays inside DECIMAL(38,0)
    through sf1; PR exits as one integral micro division, NULL for a
    zero-variance (constant) corpus.

    Scale shape: ONE pass — posexplode feeds a map-side-combinable
    (dim) groupBy bounded by n_dims rows, and the PR is a 1-row
    aggregate over those 64 rows. No pairwise anything, no windows."""
    base = load(spark, sf_dir, "embeddings").filter(
        F.col("embedding").isNotNull()
    )
    nvec = base.agg(F.count("*").cast("long").alias("n_vecs"))
    x = base.select(
        F.posexplode("embedding").alias("pos0", "xf")
    ).select(
        (F.col("pos0") + 1).cast("int").alias("pos"),
        F.round(F.col("xf").cast("double") * F.lit(1e7))
        .cast("long")
        .alias("c"),
    )
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    dims = x.groupBy("pos").agg(
        F.count("c").cast("decimal(38,0)").alias("n"),
        F.coalesce(F.sum("c"), F.lit(0)).cast("decimal(38,0)").alias("s"),
        F.coalesce(F.sum(dec(F.col("c")) * F.col("c")), F.lit(0))
        .cast("decimal(38,0)")
        .alias("q"),
    )
    v = dims.select(
        F.expr(
            f"CAST((n * q - s * s) div {_ERANK_SHIFT} AS DECIMAL(38,0))"
        ).alias("vp")
    )
    return (
        v.agg(
            F.count("*").cast("long").alias("n_dims"),
            F.sum("vp").cast("long").alias("sum_var_scaled"),
            F.expr(
                "CAST((1000000 * CAST(sum(vp) AS DECIMAL(38,0)) * sum(vp))"
                " div nullif(sum(CAST(vp AS DECIMAL(38,0)) * vp), 0)"
                " AS BIGINT)"
            ).alias("pr_micro"),
        )
        .crossJoin(F.broadcast(nvec))
        .select("n_vecs", "n_dims", "sum_var_scaled", "pr_micro")
    )


# --------------------------------------------------------------------------
# fert1 — tokenizer fertility per language (round 10)
# --------------------------------------------------------------------------

_FERT_SQL = f"""
WITH toks AS (
  SELECT lang,
         CAST(len(regexp_extract_all(text, '{_BPE_RE}')) AS BIGINT)
           AS n_sub,
         CAST(len(regexp_extract_all(text, '\\S+')) AS BIGINT) AS n_words
  FROM documents WHERE text IS NOT NULL AND lang IS NOT NULL
)
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_sub) AS BIGINT) AS n_subtokens,
       CAST(sum(n_words) AS BIGINT) AS n_words,
       CAST((1000000 * sum(n_sub)) // NULLIF(sum(n_words), 0) AS BIGINT)
         AS fertility_micro
FROM toks GROUP BY lang
"""


@query("fert1_tokenizer_fertility", oracle=_FERT_SQL)
def fert1_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer FERTILITY per language — subword tokens produced per
    whitespace word (Rust et al. 2021, "How good is your tokenizer?";
    the metric the BLOOM/NLLB tokenizer audits report per language):
    a language whose fertility is 2x another's pays 2x the context
    window and 2x the compute for the same text, so a multilingual
    data pipeline reads THIS table before setting per-language token
    budgets (ups1/lr1) or sampling temperatures (mix1). Uses the t5
    cross-engine pretokenizer as the subword proxy and t1's
    whitespace rule as the word denominator — both already
    oracle-pinned.

    Exactness: two regexp_extract_all counts per row (constructs
    chosen identical in Java regex and RE2, the t5 rule), summed as
    BIGINTs; fertility exits as one integral micro division of
    non-negatives (div == //), NULL for a language with zero words
    (whitespace-only adversarial docs).

    Scale shape: ONE map-side-combinable (lang) groupBy over per-row
    projections — no explode (counts come from array length, the
    token arrays never leave the row), no joins, no windows."""
    txt = F.col("text")
    toks = (
        load(spark, sf_dir, "documents")
        .filter(txt.isNotNull() & F.col("lang").isNotNull())
        .select(
            "lang",
            F.size(F.regexp_extract_all(txt, F.lit(_BPE_RE), 0))
            .cast("long")
            .alias("n_sub"),
            F.size(F.regexp_extract_all(txt, F.lit(r"\S+"), 0))
            .cast("long")
            .alias("n_words"),
        )
    )
    return toks.groupBy("lang").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_sub").cast("long").alias("n_subtokens"),
        F.sum("n_words").cast("long").alias("n_words"),
        F.expr(
            "CAST((1000000 * sum(n_sub)) div nullif(sum(n_words), 0)"
            " AS BIGINT)"
        ).alias("fertility_micro"),
    )


# --------------------------------------------------------------------------
# hill1 — Hill tail-index estimator of the length distribution (round 10)
# --------------------------------------------------------------------------

_HILL_K = 20  # order statistics in the tail estimate


_HILL_SQL = f"""
WITH docs AS (
  SELECT source, doc_id, CAST(n_chars AS BIGINT) AS x
  FROM documents
  WHERE source IS NOT NULL AND n_chars IS NOT NULL AND doc_id IS NOT NULL
),
ranked AS (
  SELECT source, x,
         row_number() OVER (
           PARTITION BY source ORDER BY x DESC, doc_id) AS r,
         count(*) OVER (PARTITION BY source) AS n
  FROM docs
),
kth AS (
  SELECT source, x AS x_k1, n FROM ranked
  WHERE r = {_HILL_K} + 1 AND x > 0
),
terms AS (
  SELECT r.source, k.n, k.x_k1,
         CAST(round(round(ln(CAST(r.x AS DOUBLE)
                            / CAST(k.x_k1 AS DOUBLE)), 6) * 1e6)
              AS BIGINT) AS t
  FROM ranked r JOIN kth k USING (source)
  WHERE r.r <= {_HILL_K}
)
SELECT source,
       CAST(any_value(n) AS BIGINT) AS n_docs,
       CAST(any_value(x_k1) AS BIGINT) AS x_k1,
       CAST(sum(t) AS BIGINT) AS sum_ln_micro,
       CAST({1000000 * _HILL_K * 1000000}
            // NULLIF(sum(t), 0) AS BIGINT) AS alpha_micro
FROM terms GROUP BY source
"""


@query("hill1_tail_index", oracle=_HILL_SQL)
def hill1_tail_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hill tail-index estimator (Hill 1975) of each source's
    document-length distribution over its top {_HILL_K}+1 order
    statistics: alpha-hat = k / sum_(i<=k) ln(x_(i)/x_(k+1)) — the
    standard heavy-tail exponent gauge. Doc-length tails drive
    sequence-packing waste (pack1/trunc1) and shuffle skew (dq6): a
    source with alpha < 2 has INFINITE length variance, so its mean-
    based capacity plans lie; this estimator reads the tail directly
    where zipf1 fits the token-frequency body and mk1/ks1 watch
    location shifts. Only the tail pool is examined — the textbook
    estimator's k-largest-order-statistics form.

    Exactness: order statistics pick by an exact total order
    (length desc, doc_id tiebreak); each log term is the micro-nat
    idiom (ONE IEEE division of two exact BIGINTs, then the
    6dp-then-1e6 double-round pinning libm ln — zipf1/dd1/surv1
    precedent); the estimate exits as one integral micro division.
    Sources with fewer than {_HILL_K}+1 docs, or whose (k+1)-th
    length is zero, have no defined tail and emit no row — the same
    WHERE in both engines.

    Scale shape: the per-source rank window is the w1 top-k-per-group
    shape (at 100 TB swap in the two-phase banded global-rank trick
    snm1 documents if a single source outgrows a partition); the
    {_HILL_K}-row-per-source term table and the final groupBy are
    source-bounded. One corpus pass, one window, one bounded join."""
    docs = (
        load(spark, sf_dir, "documents")
        .filter(
            F.col("source").isNotNull()
            & F.col("n_chars").isNotNull()
            & F.col("doc_id").isNotNull()
        )
        .select("source", "doc_id", F.col("n_chars").cast("long").alias("x"))
    )
    w = Window.partitionBy("source").orderBy(
        F.col("x").desc(), F.col("doc_id")
    )
    ranked = docs.select(
        "source",
        "x",
        F.row_number().over(w).alias("r"),
        F.count("*").over(Window.partitionBy("source")).alias("n"),
    )
    kth = ranked.filter(
        (F.col("r") == _HILL_K + 1) & (F.col("x") > 0)
    ).select("source", F.col("x").alias("x_k1"), "n")
    terms = (
        ranked.filter(F.col("r") <= _HILL_K)
        .drop("n")
        .join(F.broadcast(kth), "source")
        .select(
            "source",
            "n",
            "x_k1",
            F.round(
                F.round(
                    F.log(
                        F.col("x").cast("double")
                        / F.col("x_k1").cast("double")
                    ),
                    6,
                )
                * 1e6
            )
            .cast("long")
            .alias("t"),
        )
    )
    return terms.groupBy("source").agg(
        F.any_value(F.col("n")).cast("long").alias("n_docs"),
        F.any_value(F.col("x_k1")).cast("long").alias("x_k1"),
        F.sum("t").cast("long").alias("sum_ln_micro"),
        F.expr(
            f"CAST(CAST({1000000 * _HILL_K * 1000000} AS BIGINT)"
            " div nullif(sum(t), 0) AS BIGINT)"
        ).alias("alpha_micro"),
    )


# --------------------------------------------------------------------------
# snm2 — sorted-neighborhood blocking-recall audit (round 10)
# --------------------------------------------------------------------------

_SNM2_SQL = f"""
WITH {_D2B_CTES},
expairs AS (
  SELECT doc_a, doc_b
  FROM inter
  JOIN sizes sa ON sa.doc_id = doc_a
  JOIN sizes sb ON sb.doc_id = doc_b
  WHERE CAST(inter AS DOUBLE) / (sa.set_size + sb.set_size - inter) >= 0.5
),
keyed AS (
  SELECT doc_id, {_SNM_KEY_SQL} AS key FROM documents
  WHERE doc_id IS NOT NULL
),
ranked AS (
  SELECT doc_id, row_number() OVER (ORDER BY key, doc_id) AS rn
  FROM keyed
),
cand AS (
  SELECT least(a.doc_id, b.doc_id) AS doc_a,
         greatest(a.doc_id, b.doc_id) AS doc_b
  FROM ranked a JOIN ranked b
    ON b.rn > a.rn AND b.rn <= a.rn + 10
),
n1 AS (SELECT CAST(count(*) AS BIGINT) AS n_exact_pairs FROM expairs),
n2 AS (SELECT CAST(count(*) AS BIGINT) AS n_window_pairs FROM cand),
n3 AS (SELECT CAST(count(*) AS BIGINT) AS n_recovered
       FROM expairs JOIN cand USING (doc_a, doc_b))
SELECT n_exact_pairs, n_window_pairs, n_recovered,
       CAST((1000 * n_recovered) // NULLIF(n_exact_pairs, 0) AS BIGINT)
         AS recall_permille
FROM n1, n2, n3
"""


@query("snm2_blocking_recall", oracle=_SNM2_SQL)
def snm2_blocking_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall audit of sorted-neighborhood BLOCKING — the rec1/wv1
    question asked of the third candidate-generation family: what
    fraction of the exact capped-Jaccard near-dup pairs (3-word
    shingles, df <= 20, J >= 0.5 — the d2b/d9/wv1 ground truth) land
    inside snm1's w=10 sort window at all? SNM's recall is purely a
    DATA property (do near-dups share 40-char normalized prefixes?),
    unlike MinHash-LSH whose banding gives a probabilistic curve — so
    this number is the rollout gate for choosing snm1 over d3 on a
    given corpus, and its drift over ingests signals the prefix
    assumption decaying (e.g. templated headers disappearing).
    Hash-pinned like rec1/wv1: both arms replay bit-for-bit in the
    oracle, so the TRUE recall is certified, not a floor.

    The candidate arm is the PURE window pair set (no size-ratio
    prune, no Jaccard verify): blocking recall measures the window,
    and the prune is J-lossless so auditing upstream of it measures
    the same gate snm1's output passes through. NULL doc_ids are
    excluded from the ranking here (both engines) — the two engines
    order NULL tiebreaks differently, and a NULL id cannot name a
    pair; snm1 itself is unaffected because its NULL-id pairs drop in
    the verify join.

    Scale shape: the exact arm is the d2b capped enumeration (audit
    cadence, as wv1/rec1); the window arm replays snm1's factored
    range-partition rank machinery (_snm_ranked — never a single-
    partition window) plus one rank-band self-join; the intersection
    joins two bounded pair sets. One-row output."""
    from pyspark.storagelevel import StorageLevel

    from ..functions.dedup import ngram_jaccard_pairs

    docs = load(spark, sf_dir, "documents")
    exact = (
        ngram_jaccard_pairs(docs, max_doc_freq=20)
        .select("doc_a", "doc_b")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    ranked = _snm_ranked(
        spark, docs.filter(F.col("doc_id").isNotNull())
    ).select("doc_id", "rn")
    left = ranked.select(
        F.col("doc_id").alias("id_l"),
        F.explode(F.sequence(F.lit(1), F.lit(10))).alias("off"),
        F.col("rn"),
    ).select("id_l", (F.col("rn") + F.col("off")).alias("rn"))
    cand = (
        left.join(
            ranked.select(F.col("doc_id").alias("id_r"), "rn"), "rn"
        )
        .select(
            F.least("id_l", "id_r").alias("doc_a"),
            F.greatest("id_l", "id_r").alias("doc_b"),
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    n1 = exact.agg(F.count("*").cast("long").alias("n_exact_pairs"))
    n2 = cand.agg(F.count("*").cast("long").alias("n_window_pairs"))
    n3 = exact.join(cand, ["doc_a", "doc_b"]).agg(
        F.count("*").cast("long").alias("n_recovered")
    )
    return (
        n1.join(F.broadcast(n2))
        .join(F.broadcast(n3))
        .select(
            "n_exact_pairs",
            "n_window_pairs",
            "n_recovered",
            F.expr(
                "CAST((1000 * n_recovered) div nullif(n_exact_pairs, 0)"
                " AS BIGINT)"
            ).alias("recall_permille"),
        )
    )


# --------------------------------------------------------------------------
# cls1 — classifier evaluation: confusion matrix + P/R/F1 (round 10)
# --------------------------------------------------------------------------

_CLS1_SQL = """
WITH scored AS (
  SELECT (lang = 'en') AS truth,
         50 * CAST(len(regexp_extract_all(lower(text),
                       '\\b(the|a|of|to|and)\\b')) AS BIGINT)
           > CAST(len(regexp_extract_all(text, '\\S+')) AS BIGINT) AS pred
  FROM documents WHERE lang IS NOT NULL AND text IS NOT NULL
),
cm AS (
  SELECT CAST(count(*) FILTER (truth AND pred) AS BIGINT) AS tp,
         CAST(count(*) FILTER (NOT truth AND pred) AS BIGINT) AS fp,
         CAST(count(*) FILTER (truth AND NOT pred) AS BIGINT) AS fn,
         CAST(count(*) FILTER (NOT truth AND NOT pred) AS BIGINT) AS tn
  FROM scored
)
SELECT tp, fp, fn, tn,
       CAST((1000 * tp) // NULLIF(tp + fp, 0) AS BIGINT)
         AS precision_permille,
       CAST((1000 * tp) // NULLIF(tp + fn, 0) AS BIGINT)
         AS recall_permille,
       CAST((2000 * tp) // NULLIF(2 * tp + fp + fn, 0) AS BIGINT)
         AS f1_permille,
       CAST((1000 * (tp + tn)) // NULLIF(tp + fp + fn + tn, 0) AS BIGINT)
         AS accuracy_permille
FROM cm
"""


@query("cls1_classifier_eval", oracle=_CLS1_SQL)
def cls1_classifier_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-classifier evaluation harness — confusion matrix,
    precision, recall, F1 and accuracy (the van Rijsbergen 1979
    measures every quality-filter rollout is judged by): here scoring
    the cheap stopword-ratio language heuristic (predict English when
    en-stopword hits exceed 2% of tokens — the t2 signal as a
    decision rule) against the stored lang label. The SHAPE is the
    deliverable: a curation pipeline swaps in any rule-vs-truth pair
    (qc1 gate vs human labels, dc1 flag vs known contamination) and
    reads the same four cells — this is the evaluation op the
    registry's filters are tuned with, missing until now because
    every filter was reported unscored.

    Exactness: the decision threshold is the integer cross-product
    50*hits > tokens (never a float ratio); the four cells come from
    ONE FILTERed counting aggregate; all four metrics are integral
    permille divisions of non-negatives (div == //), NULL-guarded for
    degenerate corpora (no predicted positives, no true positives).

    Scale shape: one pass, one 1-row aggregate, zero joins — the
    cheapest evaluation harness possible, by design: it runs on every
    labeled holdout at every threshold candidate."""
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
    cm = scored.agg(
        F.count(F.when(t & p, 1)).cast("long").alias("tp"),
        F.count(F.when(~t & p, 1)).cast("long").alias("fp"),
        F.count(F.when(t & ~p, 1)).cast("long").alias("fn"),
        F.count(F.when(~t & ~p, 1)).cast("long").alias("tn"),
    )
    return cm.select(
        "tp",
        "fp",
        "fn",
        "tn",
        F.expr("CAST((1000 * tp) div nullif(tp + fp, 0) AS BIGINT)").alias(
            "precision_permille"
        ),
        F.expr("CAST((1000 * tp) div nullif(tp + fn, 0) AS BIGINT)").alias(
            "recall_permille"
        ),
        F.expr(
            "CAST((2000 * tp) div nullif(2 * tp + fp + fn, 0) AS BIGINT)"
        ).alias("f1_permille"),
        F.expr(
            "CAST((1000 * (tp + tn)) div nullif(tp + fp + fn + tn, 0)"
            " AS BIGINT)"
        ).alias("accuracy_permille"),
    )


# --------------------------------------------------------------------------
# auc1 — exact ROC AUC of a score against a binary label (round 10)
# --------------------------------------------------------------------------

_AUC1_SQL = """
WITH scored AS (
  SELECT (lang = 'en') AS pos,
         (1000000 * CAST(len(regexp_extract_all(lower(text),
                             '\\b(the|a|of|to|and)\\b')) AS BIGINT))
           // CAST(len(regexp_extract_all(text, '\\S+')) AS BIGINT)
           AS score
  FROM documents
  WHERE lang IS NOT NULL AND text IS NOT NULL
    AND len(regexp_extract_all(text, '\\S+')) > 0
),
spine AS (
  SELECT score,
         CAST(count(*) FILTER (pos) AS HUGEINT) AS cp,
         CAST(count(*) FILTER (NOT pos) AS HUGEINT) AS cn
  FROM scored GROUP BY score
),
cum AS (
  SELECT score, cp, cn,
         CAST(coalesce(sum(cp + cn) OVER (ORDER BY score
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS HUGEINT) AS before
  FROM spine
),
agg AS (
  SELECT CAST(sum(cp) AS HUGEINT) AS n1,
         CAST(sum(cn) AS HUGEINT) AS n0,
         CAST(sum(cp * (2 * before + cp + cn + 1)) AS HUGEINT) AS r1_x2
  FROM cum
)
SELECT CAST(n1 AS BIGINT) AS n_pos,
       CAST(n0 AS BIGINT) AS n_neg,
       CAST(r1_x2 - n1 * (n1 + 1) AS BIGINT) AS u_x2,
       CAST((1000000 * (r1_x2 - n1 * (n1 + 1)))
            // NULLIF(2 * n1 * n0, 0) AS BIGINT) AS auc_micro
FROM agg
"""


@query("auc1_score_auc", oracle=_AUC1_SQL)
def auc1_score_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact ROC AUC of the stopword-ratio score against the
    English label, via the rank identity AUC = (R1 - n1(n1+1)/2) /
    (n1*n0) (Hanley & McNeil 1982; equivalently the Mann-Whitney U
    normalized) — the threshold-FREE companion to cls1's fixed-
    threshold confusion matrix: cls1 judges one operating point, AUC
    judges the whole score, which is what you compare two candidate
    quality signals by BEFORE picking thresholds. Ties (heavily
    present — the score is a quantized ratio) use midranks, the exact
    convention that keeps AUC = P(s_pos > s_neg) + P(tie)/2.

    Exactness: the score quantizes through ONE non-negative integral
    division (1e6*hits div tokens — never a float ratio); midranks
    never materialize as .5 floats (everything carries doubled:
    2*R1 = sum cp*(2*before + c + 1) over the VALUE SPINE, the
    mw1/imp1 order-statistic trick — no corpus ranking, only a
    bounded spine cumulative); AUC exits as one integral micro
    division of non-negatives (U >= 0 always). NULLs for a
    single-class corpus.

    Scale shape: one map-side-combinable (score) groupBy is the only
    corpus pass; the cumulative window runs over the bounded score
    spine (<= 1e6 quanta, in practice hundreds); 1-row output."""
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
            (F.col("lang") == "en").alias("pos"),
            hits.alias("hits"),
            toks.alias("toks"),
        )
        .filter(F.col("toks") > 0)
        .select(
            "pos",
            F.expr("(1000000 * hits) div toks").alias("score"),
        )
    )
    spine = scored.groupBy("score").agg(
        F.count(F.when(F.col("pos"), 1)).cast("decimal(38,0)").alias("cp"),
        F.count(F.when(~F.col("pos"), 1)).cast("decimal(38,0)").alias("cn"),
    )
    w = Window.orderBy("score").rowsBetween(Window.unboundedPreceding, -1)
    cum = spine.select(
        "cp",
        "cn",
        F.coalesce(F.sum(F.col("cp") + F.col("cn")).over(w), F.lit(0))
        .cast("decimal(38,0)")
        .alias("before"),
    )
    agg = cum.agg(
        F.sum("cp").cast("decimal(38,0)").alias("n1"),
        F.sum("cn").cast("decimal(38,0)").alias("n0"),
        F.sum(
            F.col("cp")
            * (2 * F.col("before") + F.col("cp") + F.col("cn") + 1)
        )
        .cast("decimal(38,0)")
        .alias("r1_x2"),
    )
    return agg.select(
        F.col("n1").cast("long").alias("n_pos"),
        F.col("n0").cast("long").alias("n_neg"),
        (F.col("r1_x2") - F.col("n1") * (F.col("n1") + 1))
        .cast("long")
        .alias("u_x2"),
        F.expr(
            "CAST((1000000 * (r1_x2 - n1 * (n1 + 1)))"
            " div nullif(2 * n1 * n0, 0) AS BIGINT)"
        ).alias("auc_micro"),
    )


# --------------------------------------------------------------------------
# ece1 — reliability diagram + expected calibration error (round 10)
# --------------------------------------------------------------------------

_ECE_BINS = 10

_ECE1_SQL = f"""
WITH scored AS (
  SELECT (lang = 'en') AS pos,
         (1000000 * CAST(len(regexp_extract_all(lower(text),
                             '\\b(the|a|of|to|and)\\b')) AS BIGINT))
           // CAST(len(regexp_extract_all(text, '\\S+')) AS BIGINT)
           AS score
  FROM documents
  WHERE lang IS NOT NULL AND text IS NOT NULL
    AND len(regexp_extract_all(text, '\\S+')) > 0
),
binned AS (
  SELECT least(score // {1000000 // _ECE_BINS}, {_ECE_BINS - 1}) AS bin,
         pos, score
  FROM scored
),
bins AS (
  SELECT bin,
         CAST(count(*) AS BIGINT) AS n,
         CAST(count(*) FILTER (pos) AS BIGINT) AS n_pos,
         CAST(sum(score) AS HUGEINT) AS s
  FROM binned GROUP BY bin
),
tot AS (
  SELECT CAST(sum(n) AS HUGEINT) AS nt,
         CAST(sum(abs(1000000 * CAST(n_pos AS HUGEINT) - s)) AS HUGEINT)
           AS gap_sum
  FROM bins
)
SELECT b.bin, b.n, b.n_pos,
       CAST(b.s // b.n AS BIGINT) AS conf_micro,
       CAST((1000 * b.n_pos) // b.n AS BIGINT) AS acc_permille,
       CAST(abs(1000000 * CAST(b.n_pos AS HUGEINT) - b.s) AS BIGINT)
         AS gap_num,
       CAST(t.gap_sum // t.nt AS BIGINT) AS ece_micro
FROM bins b CROSS JOIN tot t
"""


@query("ece1_reliability_diagram", oracle=_ECE1_SQL)
def ece1_reliability_diagram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability diagram + Expected Calibration Error of the
    stopword-ratio score read as a probability of English (Guo et al.
    2017, "On calibration of modern neural networks"; the diagram
    from DeGroot & Fienberg 1983): scores bin into {b} equal-width
    cells; per cell the mean score (confidence) is compared against
    the empirical positive rate (accuracy), and
    ECE = sum_b (n_b/N)*|acc_b - conf_b| summarizes the gap. cls1
    judges one threshold, auc1 judges the ordering — ece1 judges
    whether the score's VALUES mean what they claim, the property a
    downstream mixer needs before treating a quality score as a
    sampling probability (mix1/ws1).

    Exactness: the per-bin weighted gap telescopes to
    |1e6*pos_b - sum(score_b)| / (N*1e6) — an exact integer numerator
    per bin (no per-bin division at all), so ECE is ONE integral
    division of the exact gap sum by N; per-bin confidence and
    accuracy exit as integral micro/permille divisions. The score is
    the auc1 quantized ratio (1e6*hits div tokens) and the binning is
    an integral floor of it — floats never appear.

    Scale shape: one map-side-combinable (bin) groupBy over a per-row
    projection ({b} groups), a 1-row total, and a {b}-row output.
    Runs per scoring-rule candidate, like cls1."""
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
            (F.col("lang") == "en").alias("pos"),
            hits.alias("hits"),
            toks.alias("toks"),
        )
        .filter(F.col("toks") > 0)
        .select("pos", F.expr("(1000000 * hits) div toks").alias("score"))
    )
    binned = scored.select(
        F.least(
            F.expr(f"score div {1000000 // _ECE_BINS}"),
            F.lit(_ECE_BINS - 1).cast("long"),
        ).alias("bin"),
        "pos",
        "score",
    )
    bins = binned.groupBy("bin").agg(
        F.count("*").cast("long").alias("n"),
        F.count(F.when(F.col("pos"), 1)).cast("long").alias("n_pos"),
        F.sum("score").cast("decimal(38,0)").alias("s"),
    )
    tot = bins.agg(
        F.sum("n").cast("decimal(38,0)").alias("nt"),
        F.sum(
            F.abs(
                F.lit(1000000).cast("decimal(38,0)") * F.col("n_pos")
                - F.col("s")
            )
        )
        .cast("decimal(38,0)")
        .alias("gap_sum"),
    )
    return bins.crossJoin(F.broadcast(tot)).select(
        "bin",
        "n",
        "n_pos",
        F.expr("CAST(s div n AS BIGINT)").alias("conf_micro"),
        F.expr("CAST((1000 * n_pos) div n AS BIGINT)").alias(
            "acc_permille"
        ),
        F.abs(
            F.lit(1000000).cast("decimal(38,0)") * F.col("n_pos")
            - F.col("s")
        )
        .cast("long")
        .alias("gap_num"),
        F.expr("CAST(gap_sum div nt AS BIGINT)").alias("ece_micro"),
    )
