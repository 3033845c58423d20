"""Training-data curation operators beyond the dedup/ANN families:
deterministic stratified sampling, sequence packing, cross-source
canonical dedup, graph ranking, leakage-safe splitting, duplicated-
span accounting, and corpus-statistics quality scoring — the
sampling/packing/splitting stages of an LLM data pipeline
(SURVEY.md §7 phase 5 extension; no reference counterpart — the
reference is a pandas ETL, these are the mandated extended surface).

Every operator is bit-exact oracle-backed: randomness is replaced by
the md5-derived cross-engine hash (``ce_hash64``), so DuckDB replays
every sampling decision. The production variant swaps ``xxhash64`` in
for md5 with no other change (the d3/sim_ivf precedent).

Scale notes: sampling is a pure per-row filter with NO shuffle at all
(rates are literals in the plan, so Catalyst pushes the hash filter
into the scan stage); the other operators bound their shuffles to
hash keys or component labels, never raw text.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.dedup import CE_HASH64_SQL, ce_hash64
from ..functions.spread import spread_if_narrow
from .registry import load, load_spread, query

#: per-lang keep rates in permille — the curation knob: oversample
#: high-resource strata, downsample the rest. Deterministic per doc.
_LANG_RATES = {"en": 900, "es": 600, "fr": 300}
_DEFAULT_RATE = 150

_SAMP_CE = CE_HASH64_SQL.format(h="md5('samp|'||CAST(doc_id AS VARCHAR))")
_SAMP_CASE = (
    "CASE lang "
    + " ".join(f"WHEN '{k}' THEN {v}" for k, v in _LANG_RATES.items())
    + f" ELSE {_DEFAULT_RATE} END"
)


@query(
    "samp1_stratified_sample",
    oracle=f"""
    SELECT doc_id, lang, source, n_chars
    FROM documents
    WHERE ((({_SAMP_CE}) % 1000) + 1000) % 1000 < {_SAMP_CASE}
    """,
)
def samp1_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling by language: each doc is kept
    iff ``hash(doc_id) mod 1000`` falls under its stratum's permille
    rate. Unlike ``sampleBy`` (seeded RNG, engine-private), the hash
    rule is a pure function of the row — reproducible across engines
    (bit-exact oracle), stable under corpus growth (adding docs never
    flips existing decisions — the property incremental pipelines
    need), and shuffle-free: the filter is a narrow projection pushed
    to the scan."""
    rate = F.lit(_DEFAULT_RATE)
    for lang, r in reversed(_LANG_RATES.items()):
        rate = F.when(F.col("lang") == lang, F.lit(r)).otherwise(rate)
    key = F.pmod(
        ce_hash64(F.concat(F.lit("samp|"), F.col("doc_id").cast("string"))),
        F.lit(1000),
    )
    return (
        load(spark, sf_dir, "documents")
        .filter(key < rate)
        .select("doc_id", "lang", "source", "n_chars")
    )


_SHARD_CE = CE_HASH64_SQL.format(h="md5('shard|'||CAST(doc_id AS VARCHAR))")
_PACK_BUDGET = 2048
_N_SHARDS = 8


@query(
    "pack1_sequence_packing",
    oracle=f"""
    WITH t AS (
      SELECT doc_id,
             CAST(((({_SHARD_CE}) % {_N_SHARDS}) + {_N_SHARDS}) % {_N_SHARDS}
                  AS BIGINT) AS shard,
             CAST(len(regexp_extract_all(text, '\\S+')) AS BIGINT) AS n_tokens
      FROM documents
    ),
    p AS (
      SELECT doc_id, shard, n_tokens,
             CAST(COALESCE(SUM(n_tokens) OVER (
               PARTITION BY shard ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS stream_offset
      FROM t
    )
    SELECT doc_id, shard, n_tokens, stream_offset,
           CAST(floor(stream_offset / {_PACK_BUDGET}.0) AS BIGINT) AS bin_id
    FROM p
    """,
)
def pack1_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing — assigning documents to fixed-token-budget
    training bins. First-fit packing is inherently sequential, so the
    scalable form is PREFIX-SUM BINNING: shard docs by hash (each
    shard is an independent packing stream = one window partition, so
    the sort is per-shard, never global), order within the shard by
    doc_id, and bin = exclusive-prefix-token-count div budget. A doc
    may straddle a bin boundary — at training time that's exactly the
    cross-document attention boundary a packed batch has anyway.
    One shuffle (the window partition), all-JVM expressions."""
    from ..functions.dedup import tokens

    docs = load(spark, sf_dir, "documents").select(
        "doc_id",
        F.pmod(
            ce_hash64(F.concat(F.lit("shard|"), F.col("doc_id").cast("string"))),
            F.lit(_N_SHARDS),
        ).alias("shard"),
        F.size(tokens(F.col("text"))).cast("long").alias("n_tokens"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return docs.select(
        "doc_id",
        "shard",
        "n_tokens",
        F.coalesce(F.sum("n_tokens").over(w), F.lit(0)).alias("stream_offset"),
    ).withColumn(
        "bin_id", F.floor(F.col("stream_offset") / _PACK_BUDGET).cast("long")
    )


# normalized-content key: lower, non-alphanumerics → space, collapse
# runs, trim — the same canonicalization family as t7_text_clean
_NORM_SPARK = lambda c: F.trim(
    F.regexp_replace(F.regexp_replace(F.lower(c), "[^a-z0-9 ]", " "), " +", " ")
)
_NORM_SQL = (
    "trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),"
    " ' +', ' ', 'g'))"
)


@query(
    "d7_cross_source_dedup",
    oracle=f"""
    WITH n AS (
      SELECT doc_id, source, md5({_NORM_SQL}) AS content_key
      FROM documents
    )
    SELECT content_key,
           arg_min(doc_id, source || '|' || lpad(CAST(doc_id AS VARCHAR), 12, '0'))
             AS keep_doc_id,
           arg_min(source, source || '|' || lpad(CAST(doc_id AS VARCHAR), 12, '0'))
             AS keep_source,
           CAST(count(*) AS BIGINT) AS n_copies
    FROM n GROUP BY content_key
    """,
)
def d7_cross_source_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source canonical dedup: when the same (normalized)
    content appears in several sources, keep ONE canonical copy from
    the preferred source — the multi-crawl consolidation step that
    runs after near-dup detection. Preference = lexicographic source
    order, doc_id tiebreak, encoded as a single string key so both
    engines' arg_min agree (DuckDB's arg_min takes no composite key;
    the lpad makes the numeric tiebreak sort textually). keep_source
    comes from the SAME arg_min key as keep_doc_id — a separate
    min(source) could disagree when one source name is a prefix of
    another ('web2|...' < 'web|...' since '|' sorts above
    alphanumerics), yielding an inconsistent (doc, source) pair. One
    hash groupBy on the content key, map-side combined; the md5
    content key (not the raw text) is what shuffles — bounded-width
    rows at any corpus scale."""
    n = load(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.md5(_NORM_SPARK(F.col("text"))).alias("content_key"),
    )
    pref = F.concat(
        F.col("source"), F.lit("|"), F.lpad(F.col("doc_id").cast("string"), 12, "0")
    )
    return n.groupBy("content_key").agg(
        F.min_by("doc_id", pref).alias("keep_doc_id"),
        F.min_by("source", pref).alias("keep_source"),
        F.count("*").alias("n_copies"),
    )


def _pagerank_oracle(n_iter: int = 5) -> str:
    """Unroll the PageRank recurrence as chained CTEs — DuckDB replays
    the exact FIXED-POINT integer recurrence of
    :func:`...functions.graph.pagerank` (integral divides, BIGINT
    sums, rational damping), so any iteration count stays
    bit-identical with no float anywhere."""
    head = """
    WITH e AS (
      SELECT DISTINCT 'c'||CAST(o.o_custkey AS VARCHAR) AS src,
                      's'||CAST(l.l_suppkey AS VARCHAR) AS dst
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    ),
    nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
    nn AS (SELECT count(*) AS n FROM nodes),
    deg AS (SELECT src, count(*) AS deg FROM e GROUP BY 1),
    ed AS (SELECT e.src, e.dst, d.deg FROM e JOIN deg d USING (src)),
    r0 AS (
      SELECT node,
             CAST(1000000000000 // (SELECT n FROM nn) AS BIGINT) AS rank_e12
      FROM nodes
    )"""
    step = """,
    r{k1} AS (
      SELECT n.node,
             CAST((150000000000 // (SELECT n FROM nn))
                  + (85 * COALESCE(m.mass, 0)) // 100 AS BIGINT) AS rank_e12
      FROM nodes n LEFT JOIN (
        SELECT ed.dst AS node, SUM(r.rank_e12 // ed.deg) AS mass
        FROM ed JOIN r{k} r ON ed.src = r.node
        GROUP BY 1
      ) m USING (node)
    )"""
    body = "".join(step.format(k=k, k1=k + 1) for k in range(n_iter))
    return (
        head
        + body
        + f"\n    SELECT node, rank_e12 FROM r{n_iter}"
    )


@query("gr1_pagerank", oracle=_pagerank_oracle(5))
def gr1_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (5 iterations, damping 0.85) over the customer→supplier
    order graph — link-authority scoring, the iterative-algorithm
    family beyond connected components (rank the canonical doc of a
    dup cluster, score crawl frontiers, weight sources). Node ids are
    domain-prefixed ('c…'/'s…') so the two key spaces can't collide.

    Scale shape (see :func:`...functions.graph.pagerank`): per round
    one groupBy over the persisted degree-annotated edge list + one
    label join; previous round's cache released eagerly; nothing but
    two control-plane scalars (node count, convergence none — fixed
    iterations) ever reaches the driver. The whole recurrence is
    FIXED-POINT BIGINT arithmetic (ranks in units of 1e-12, integral
    divides, 85/100 rational damping) — no float ever enters, so the
    oracle's unrolled-CTE replay hash-matches bit-for-bit at any
    scale (a double formulation broke at sf0.1 on Spark's
    shortest-decimal vs DuckDB's binary rounding of the 12th digit)."""
    from ..functions.graph import pagerank

    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    # Run the recurrence on LONG node ids (customer 2k, supplier 2k+1
    # — disjoint by parity) and decode to the domain-prefixed string
    # labels only on the way out: every per-round join/groupBy then
    # hashes and compares 8-byte longs instead of variable-length
    # strings, which cut the 5-round chain ~2x at sf0.1 (9.4s → ~4.8s)
    # with bit-identical ranks (the graph is unchanged).
    e = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(
            (F.col("o_custkey") * 2).cast("long").alias("src"),
            (F.col("l_suppkey") * 2 + 1).cast("long").alias("dst"),
        )
        .distinct()
    )
    ranks = pagerank(e, n_iterations=5, damping_pct=85)
    return ranks.select(
        F.when(
            F.col("node") % 2 == 0,
            F.concat(F.lit("c"), F.expr("node div 2").cast("string")),
        )
        .otherwise(F.concat(F.lit("s"), F.expr("node div 2").cast("string")))
        .alias("node"),
        "rank_e12",
    )


# --------------------------------------------------------------------------
# leakage-safe splitting, duplicated-span detection, df-based quality
# --------------------------------------------------------------------------

_SPLIT2_CE = CE_HASH64_SQL.format(
    h="md5('gsplit|'||CAST(COALESCE(c.cluster_id, d.doc_id) AS VARCHAR))"
)


def _split2_oracle() -> str:
    from .extended import _D2B_CTES, _D2B_SELECT

    return f"""
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
    comp AS (SELECT doc_id, MIN(r) AS cluster_id FROM reach GROUP BY doc_id)
    SELECT d.doc_id,
           COALESCE(c.cluster_id, d.doc_id) AS split_group,
           CASE WHEN (({_SPLIT2_CE} % 100) + 100) % 100 < 90 THEN 'train'
                ELSE 'val' END AS split
    FROM documents d LEFT JOIN comp c USING (doc_id)
    """


@query("split2_cluster_split", oracle=_split2_oracle())
def split2_cluster_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/val split: the unit of assignment is the
    NEAR-DUP CLUSTER, not the document. A plain per-doc hash split
    (split1) puts ~10% of near-duplicate pairs across the boundary —
    the val set then contains paraphrases of training docs and eval
    numbers are contaminated. Here every doc in a connected component
    of the exact-Jaccard pair graph (d6's components) hashes on the
    CLUSTER label, so a cluster lands wholly in train or wholly in
    val; singleton docs hash on their own id, preserving the 90/10
    marginal rate.

    Scale: the pair graph is d6's bounded plan — the CAPPED Jaccard
    path (``max_doc_freq=20`` stop-shingle pruning, ≤ C(20,2)
    candidates per shingle, no uncapped shingle self-join anywhere in
    the physical plan; the DuckDB oracle applies the identical cap) —
    followed by min-label propagation; the split itself is a
    zero-shuffle projection off the (tiny) component map left-joined
    onto the corpus."""
    from ..functions.dedup import connected_components, ngram_jaccard_pairs
    from pyspark import StorageLevel

    docs = load(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(
        docs, threshold=0.5, max_doc_freq=20
    ).persist(StorageLevel.MEMORY_AND_DISK)
    comp = connected_components(pairs)
    group = F.coalesce(F.col("cluster_id"), F.col("doc_id"))
    return (
        docs.select("doc_id")
        .join(comp, "doc_id", "left_outer")
        .select(
            "doc_id",
            group.alias("split_group"),
            F.when(
                F.pmod(
                    ce_hash64(F.concat(F.lit("gsplit|"), group.cast("string"))),
                    F.lit(100),
                )
                < 90,
                F.lit("train"),
            )
            .otherwise(F.lit("val"))
            .alias("split"),
        )
    )


@query(
    "split3_temporal_split",
    oracle="""
    WITH per AS (
      SELECT user_id,
             CAST(SUM(CASE WHEN ts < TIMESTAMP '2024-01-24 00:00:00'
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_train,
             CAST(SUM(CASE WHEN ts >= TIMESTAMP '2024-01-24 00:00:00'
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_test
      FROM events GROUP BY user_id
    )
    SELECT user_id, n_train, n_test,
           n_train > 0 AND n_test > 0 AS is_leaked,
           CASE WHEN n_train >= n_test THEN 'train' ELSE 'test' END
             AS assigned_split,
           CAST(least(n_train, n_test) AS BIGINT) AS n_moved
    FROM per
    """,
)
def split3_temporal_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal train/test split with an ENTITY-LEAKAGE audit and the
    entity-disjoint repair a pipeline would apply — the third member
    of the split family: split1 is row-random, split2 is
    content-cluster-safe, this one is TIME-safe. A temporal cutoff
    (train < 2024-01-24 ≤ test, the standard future-holdout for
    models evaluated on later data) leaks whenever the same entity
    has events on both sides: the model memorizes user behavior in
    train and gets credit for it in test. Output per user: events on
    each side, the ``is_leaked`` flag, the majority-rule repair
    (assign the user wholly to the side holding more of their events,
    ties to train — the assignment that relocates the fewest rows),
    and ``n_moved`` = events the repair relocates (``least`` of the
    two sides, zero exactly for clean users).

    Scale shape: ONE map-side-combinable groupBy over the event
    stream — two conditional counts, no window, no join, no second
    scan; the cutoff is a literal, so a date-partitioned 100 TB event
    lake would also prune at the scan for either side taken alone.
    The same one-pass timestamp-bucketing shape as the reference's
    CDC window filter (``dags/etl/source_to_stage.py:73``, op F1)."""
    ev = load(spark, sf_dir, "events")
    cutoff = F.lit("2024-01-24 00:00:00").cast("timestamp")
    per = ev.groupBy("user_id").agg(
        F.count_if(F.col("ts") < cutoff).alias("n_train"),
        F.count_if(F.col("ts") >= cutoff).alias("n_test"),
    )
    return per.select(
        "user_id",
        "n_train",
        "n_test",
        ((F.col("n_train") > 0) & (F.col("n_test") > 0)).alias("is_leaked"),
        F.when(F.col("n_train") >= F.col("n_test"), F.lit("train"))
        .otherwise(F.lit("test"))
        .alias("assigned_split"),
        F.least("n_train", "n_test").alias("n_moved"),
    )


@query(
    "sub1_duplicate_spans",
    oracle="""
    WITH toks AS (
      SELECT doc_id, regexp_extract_all(text, '\\S+') AS t FROM documents
    ),
    sh AS (
      SELECT doc_id, i AS pos,
             md5(concat_ws(' ', t[i], t[i+1], t[i+2])) AS key
      FROM toks, UNNEST(range(1, greatest(len(t) - 1, 1))) AS u(i)
    ),
    counts AS (SELECT key, count(DISTINCT doc_id) AS nd FROM sh GROUP BY key),
    per AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
             CAST(SUM(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_dup_spans
      FROM sh JOIN counts USING (key) GROUP BY doc_id
    )
    SELECT d.doc_id,
           CAST(COALESCE(n_spans, 0) AS BIGINT) AS n_spans,
           CAST(COALESCE(n_dup_spans, 0) AS BIGINT) AS n_dup_spans,
           ROUND(CAST(n_dup_spans AS DOUBLE) / n_spans, 9) AS dup_frac
    FROM documents d LEFT JOIN per USING (doc_id)
    """,
)
def sub1_duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicated-substring accounting (the Lee et al. 2022
    'Deduplicating Training Data Makes Language Models Better'
    signal): for every 3-token window POSITION in every doc, does the
    same window occur in any OTHER doc? Per-doc output (total spans,
    cross-doc duplicated spans, duplicated fraction) is the routing
    signal for span-level (vs whole-doc) dedup — a doc that is 40%
    boilerplate shows dup_frac 0.4 here while whole-doc Jaccard (d2)
    may stay under threshold.

    Scale shape: positions come from one narrow per-row transform (no
    self-join); only the md5 of each window shuffles (bounded width,
    never the text). The expensive tokenize+explode+md5 subtree is
    computed EXACTLY ONCE: positions first collapse to per-(window,
    doc) counts (map-side combined — the shuffle carries distinct
    windows per doc, not positions), the cross-doc frequency comes
    from a count() window over the hash key (no join back to the raw
    position stream, which would re-run the explode), and the final
    per-doc rollup is one more bounded shuffle. Cost is linear in
    corpus token count — the exact accounting twin of the
    suffix-array approach."""
    from ..functions.dedup import tokens

    docs = load_spread(spark, sf_dir, "documents")
    toked = docs.select("doc_id", tokens(F.col("text")).alias("t"))
    sh = toked.select(
        "doc_id",
        F.explode(
            # Docs with < 3 tokens have no 3-token window.  sequence(1, 0)
            # counts DOWN to [1, 0] in Spark, so the greatest(...) form
            # would feed element_at(t, 0) and throw
            # INVALID_ARRAY_INDEX_IN_ELEMENT_AT — guard like bpe1 does.
            F.expr(
                "transform(if(size(t) >= 3, sequence(1, size(t) - 2),"
                " cast(array() AS array<int>)),"
                " i -> struct(i AS pos,"
                " md5(concat_ws(' ', element_at(t, i),"
                " element_at(t, i + 1), element_at(t, i + 2))) AS key))"
            )
        ).alias("s"),
    ).select("doc_id", F.col("s.pos").alias("pos"), F.col("s.key").alias("key"))
    # collapse positions to per-(window, doc) counts first: the explode
    # subtree runs once, and the key-shuffle carries one row per
    # distinct window per doc instead of one per position
    per_kd = sh.groupBy("key", "doc_id").agg(F.count("*").alias("c"))
    kd = per_kd.withColumn(
        "nd", F.count("*").over(Window.partitionBy("key"))
    )
    per = kd.groupBy("doc_id").agg(
        F.sum("c").alias("n_spans"),
        F.sum(F.when(F.col("nd") >= 2, F.col("c")).otherwise(0))
        .cast("long")
        .alias("n_dup_spans"),
    )
    return (
        docs.select("doc_id")
        .join(per, "doc_id", "left_outer")
        .select(
            "doc_id",
            F.coalesce("n_spans", F.lit(0)).cast("long").alias("n_spans"),
            F.coalesce("n_dup_spans", F.lit(0))
            .cast("long")
            .alias("n_dup_spans"),
            F.round(
                F.col("n_dup_spans").cast("double") / F.col("n_spans"), 9
            ).alias("dup_frac"),
        )
    )


_SUB2_W = 20  # exact-match window width (Lee et al. use 50 tokens on
# web-scale docs; this corpus averages ~55 tokens/doc, so 20 is the
# proportionate setting that still yields real cross-doc matches)


@query(
    "sub2_exact_substring_dedup",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, regexp_extract_all(text, '\\S+') AS t FROM documents
    ),
    w AS (
      SELECT doc_id, CAST(i AS BIGINT) AS pos,
             md5(array_to_string(t[i:i+{_SUB2_W - 1}], ' ')) AS k
      FROM toks, UNNEST(range(1, greatest(len(t) - {_SUB2_W} + 2, 1))) AS u(i)
    ),
    ranked AS (
      SELECT doc_id, pos,
             row_number() OVER (PARTITION BY k ORDER BY doc_id, pos) AS rk
      FROM w
    ),
    cov AS (
      SELECT doc_id, pos,
             lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
      FROM ranked WHERE rk > 1
    ),
    per AS (
      SELECT doc_id,
             CAST(count(*) AS BIGINT) AS n_dup_windows,
             CAST(SUM(CASE WHEN prev IS NULL THEN {_SUB2_W}
                           ELSE LEAST({_SUB2_W}, pos - prev) END) AS BIGINT)
               AS n_removed_tokens
      FROM cov GROUP BY doc_id
    ),
    nt AS (
      SELECT doc_id,
             CAST(COALESCE(len(t), 0) AS BIGINT) AS n_tokens,
             CAST(greatest(COALESCE(len(t), 0) - {_SUB2_W} + 1, 0) AS BIGINT)
               AS n_windows
      FROM toks
    )
    SELECT n.doc_id, n.n_tokens, n.n_windows,
           COALESCE(p.n_dup_windows, 0) AS n_dup_windows,
           COALESCE(p.n_removed_tokens, 0) AS n_removed_tokens,
           round(CAST(COALESCE(p.n_removed_tokens, 0) AS DOUBLE)
                 / NULLIF(n.n_tokens, 0), 9) AS removed_frac
    FROM nt n LEFT JOIN per p USING (doc_id)
    """,
)
def sub2_exact_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr dedup accounting (Lee et al. 2022, the suffix-array
    recipe production pipelines cite): every {w}-token window is
    keyed by its exact content; all occurrences except the corpus-wide
    FIRST (ordered by doc_id, then position) are removal candidates,
    and each doc reports how many tokens its merged removed spans
    cover. sub1's 3-gram spans approximate this signal; sub2 is the
    exact long-window form — a doc quoting a {w}-token passage that
    appeared earlier in the corpus sees those tokens in
    ``n_removed_tokens`` even when whole-doc similarity is tiny.

    Scale shape (the bounded Spark replacement for a suffix array):
    one narrow per-row window transform (no self-join, never
    all-pairs), keyed by md5 so the key shuffle carries 32-byte
    digests, not {w}-token strings. Keep-first is ONE window rank
    over the key (high-cardinality key → no skew); removed-token
    accounting needs no interval materialization — with fixed-width
    sorted intervals the union size is W + Σ min(W, gap), one lag
    per doc. The lag window, per-doc rollup, and final join all share
    hash(doc_id) partitioning, so after the key rank there is ONE
    doc-keyed exchange. Everything is exact integer arithmetic."""
    from ..functions.dedup import tokens

    docs = load_spread(spark, sf_dir, "documents")
    toked = docs.select("doc_id", tokens(F.col("text")).alias("t"))
    w = toked.select(
        "doc_id",
        F.explode(
            F.expr(
                f"transform(if(size(t) >= {_SUB2_W},"
                f" sequence(1, size(t) - {_SUB2_W} + 1),"
                " cast(array() AS array<int>)),"
                f" i -> struct(cast(i AS bigint) AS pos,"
                f" md5(array_join(slice(t, i, {_SUB2_W}), ' ')) AS k))"
            )
        ).alias("s"),
    ).select("doc_id", F.col("s.pos").alias("pos"), F.col("s.k").alias("k"))
    ranked = w.withColumn(
        "rk",
        F.row_number().over(
            Window.partitionBy("k").orderBy("doc_id", "pos")
        ),
    )
    cov = (
        ranked.filter(F.col("rk") > 1)
        .withColumn(
            "prev",
            F.lag("pos").over(Window.partitionBy("doc_id").orderBy("pos")),
        )
    )
    per = cov.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_dup_windows"),
        F.sum(
            F.when(F.col("prev").isNull(), F.lit(_SUB2_W)).otherwise(
                F.least(F.lit(_SUB2_W), F.col("pos") - F.col("prev"))
            )
        )
        .cast("long")
        .alias("n_removed_tokens"),
    )
    nt = toked.select(
        "doc_id",
        F.coalesce(F.size("t"), F.lit(0)).cast("long").alias("n_tokens"),
        F.greatest(
            F.coalesce(F.size("t"), F.lit(0)) - F.lit(_SUB2_W - 1), F.lit(0)
        )
        .cast("long")
        .alias("n_windows"),
    )
    return nt.join(per, "doc_id", "left_outer").select(
        "doc_id",
        "n_tokens",
        "n_windows",
        F.coalesce("n_dup_windows", F.lit(0)).cast("long").alias("n_dup_windows"),
        F.coalesce("n_removed_tokens", F.lit(0))
        .cast("long")
        .alias("n_removed_tokens"),
        F.round(
            F.coalesce("n_removed_tokens", F.lit(0)).cast("double")
            / F.nullif(F.col("n_tokens"), F.lit(0)),
            9,
        ).alias("removed_frac"),
    )


sub2_exact_substring_dedup.__doc__ = sub2_exact_substring_dedup.__doc__.format(
    w=_SUB2_W
)


@query(
    "qc3_df_quality",
    oracle="""
    WITH tok AS (
      SELECT doc_id, unnest(regexp_extract_all(lower(text), '\\S+')) AS token
      FROM documents
    ),
    df AS (
      SELECT token, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
      FROM tok GROUP BY token
    ),
    per AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
             CAST(SUM(df) AS BIGINT) AS sum_df,
             CAST(SUM(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_hapax
      FROM tok JOIN df USING (token) GROUP BY doc_id
    )
    SELECT d.doc_id,
           CAST(COALESCE(n_tokens, 0) AS BIGINT) AS n_tokens,
           CAST(COALESCE(n_hapax, 0) AS BIGINT) AS n_hapax,
           ROUND(CAST(sum_df AS DOUBLE) / n_tokens, 9) AS mean_df
    FROM documents d LEFT JOIN per USING (doc_id)
    """,
)
def qc3_df_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-statistics quality signal: per doc, the mean document
    frequency of its tokens and its hapax (df=1) count — the
    logarithm-free cousin of a unigram-LM perplexity filter. Garbage
    strings (random ids, binary spill, OCR noise) are wall-to-wall
    hapaxes and score near-minimal mean_df; template boilerplate
    scores near-maximal. Both tails get routed out, the same role
    Gopher's quality rules play in qc1 but learned from the corpus
    itself instead of fixed thresholds.

    The tokenize+explode subtree is computed exactly once (the sub1
    shape): positions collapse to per-(token, doc) counts first
    (map-side combined), df comes from a count() window over the
    token key instead of a join back to the raw token stream, and the
    per-doc regroup is one more bounded shuffle. All-integer sums
    until the single final division, so the oracle matches to the
    last bit of the round(…, 9)."""
    from ..functions.dedup import tokens

    docs = load(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(tokens(F.lower(F.col("text")))).alias("token")
    )
    per_td = tok.groupBy("token", "doc_id").agg(F.count("*").alias("c"))
    td = per_td.withColumn(
        "df", F.count("*").over(Window.partitionBy("token"))
    )
    per = td.groupBy("doc_id").agg(
        F.sum("c").alias("n_tokens"),
        F.sum(F.col("df") * F.col("c")).cast("long").alias("sum_df"),
        F.sum(F.when(F.col("df") == 1, F.col("c")).otherwise(0))
        .cast("long")
        .alias("n_hapax"),
    )
    return (
        docs.select("doc_id")
        .join(per, "doc_id", "left_outer")
        .select(
            "doc_id",
            F.coalesce("n_tokens", F.lit(0)).cast("long").alias("n_tokens"),
            F.coalesce("n_hapax", F.lit(0)).cast("long").alias("n_hapax"),
            F.round(
                F.col("sum_df").cast("double") / F.col("n_tokens"), 9
            ).alias("mean_df"),
        )
    )


_DSIR_B = 256  # hashed-feature buckets
_DSIR_SCALE = 1000000  # integer weight scale (the cos1 idf precedent)
_DSIR_TOP = 100

_DSIR_TGT = (
    "((("
    + CE_HASH64_SQL.format(h="md5('dsir|'||source)")
    + ") % 2) + 2) % 2 = 0"
)
_DSIR_BKT = (
    "((("
    + CE_HASH64_SQL.format(h="md5('dsirf|'||tk)")
    + f") % {_DSIR_B}) + {_DSIR_B}) % {_DSIR_B}"
)


@query(
    "dsir1_importance_rank",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, {_DSIR_TGT} AS t,
             unnest(regexp_extract_all(text, '\\S+')) AS tk
      FROM documents
    ),
    dbc AS (
      SELECT doc_id, t, {_DSIR_BKT} AS b, CAST(count(*) AS BIGINT) AS c
      FROM tok GROUP BY 1, 2, 3
    ),
    btbl AS (
      SELECT b,
             CAST(SUM(CASE WHEN t THEN c ELSE 0 END) AS BIGINT) AS t_b,
             CAST(SUM(CASE WHEN NOT t THEN c ELSE 0 END) AS BIGINT) AS r_b
      FROM dbc GROUP BY 1
    ),
    wts AS (
      SELECT b, ((t_b + 1) * {_DSIR_SCALE}) // (r_b + 1) AS w
      FROM btbl
    ),
    scores AS (
      SELECT doc_id,
             CAST(SUM(c) AS BIGINT) AS n_tokens,
             CAST(SUM(c * w) AS BIGINT) AS score
      FROM dbc JOIN wts USING (b)
      WHERE NOT t
      GROUP BY 1
    )
    SELECT doc_id, n_tokens, score,
           CAST(score // n_tokens AS BIGINT) AS avg_w
    FROM scores
    ORDER BY avg_w DESC, doc_id LIMIT {_DSIR_TOP}
    """,
)
def dsir1_importance_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data Selection via Importance Resampling (DSIR, Xie et al.
    2023), the hashed-n-gram form: score every RAW-pool doc by how
    much its hashed unigram features look like the TARGET domain
    (here: the sources whose name hashes even — the mw1 two-sample
    treatment, robust to the driver renaming sources), and return the
    top-100 candidates a curation pipeline would pull into the
    training mix. Per-bucket weight is the smoothed frequency ratio
    (t_b+1)/(r_b+1), integer-scaled ×10⁶ with truncating division —
    the libm-free rational surrogate of DSIR's log-likelihood-ratio
    (the cos1/lm1 idf precedent; the global (R+B)/(T+B) normalizer is
    constant across buckets, so it only rescales every score by the
    same factor and is dropped). A doc's score is the c-weighted sum
    of its buckets' weights; the ranking key is the length-normalized
    ``score div n_tokens``. All-integer end to end, so DuckDB replays
    every weight and rank bit-exactly. Integer headroom: (t_b+1)·10⁶
    stays under 2⁶³ to ~10¹² target tokens; shift the scale down for
    bigger corpora (it rescales all scores together).

    Scale shape: ONE token explode, immediately collapsed to
    per-(doc, bucket) counts (map-side combined — the persisted
    diamond feeding both the 256-row bucket table and the per-doc
    scorer); the weight table is ≤256 rows and BROADCAST back onto
    the per-doc counts, so scoring is join-free at the shuffle level
    (no corpus-sized equi-join, no second explode); the final top-k
    is a global sort of one row per raw doc. The target/raw flag
    rides the doc row through the explode — derived from ``source``
    in the scan, never joined."""
    from ..functions.dedup import tokens

    docs = load(spark, sf_dir, "documents")
    is_t = (
        F.pmod(
            ce_hash64(F.concat(F.lit("dsir|"), F.col("source"))), F.lit(2)
        )
        == 0
    )
    # repartition before the explode: the per-occurrence md5 is the
    # CPU-heavy stage and the bench corpus arrives as ONE parquet
    # split — without this the whole hash pass runs on a single task
    # (the exploded_shingles lesson; size-conditional since r13)
    tok = (
        spread_if_narrow(docs.select("doc_id", is_t.alias("t"), "text"))
        .select(
            "doc_id",
            "t",
            F.explode(tokens(F.col("text"))).alias("tk"),
        )
    )
    dbc = (
        tok.groupBy(
            "doc_id",
            "t",
            F.pmod(
                ce_hash64(F.concat(F.lit("dsirf|"), F.col("tk"))),
                F.lit(_DSIR_B),
            ).alias("b"),
        )
        .agg(F.count("*").alias("c"))
    )
    from pyspark import StorageLevel

    dbc = dbc.persist(StorageLevel.MEMORY_AND_DISK)
    btbl = dbc.groupBy("b").agg(
        F.sum(F.when(F.col("t"), F.col("c")).otherwise(0)).alias("t_b"),
        F.sum(F.when(~F.col("t"), F.col("c")).otherwise(0)).alias("r_b"),
    )
    wts = btbl.select(
        "b",
        F.expr(f"((t_b + 1) * {_DSIR_SCALE}) div (r_b + 1)").alias("w"),
    )
    scores = (
        dbc.filter(~F.col("t"))
        .join(F.broadcast(wts), "b")
        .groupBy("doc_id")
        .agg(
            F.sum("c").cast("long").alias("n_tokens"),
            F.sum(F.col("c") * F.col("w")).cast("long").alias("score"),
        )
    )
    return (
        scores.select(
            "doc_id",
            "n_tokens",
            "score",
            F.expr("score div n_tokens").alias("avg_w"),
        )
        .orderBy(F.desc("avg_w"), "doc_id")
        .limit(_DSIR_TOP)
    )


_UPS_BUDGET_X = 2.5  # token budget = 2.5x the corpus (forces repetition)
_UPS_MAX_EPOCHS = 4  # repetition cap (Muennighoff et al. 2023: ~4 epochs
#                      of repeated data still contribute near-fresh value)


@query(
    "ups1_epoch_plan",
    oracle=f"""
    WITH c AS (
      SELECT source,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(SUM(len(regexp_extract_all(text, '\\S+'))) AS BIGINT)
               AS n_tokens,
             CAST(round(sqrt(CAST(SUM(len(regexp_extract_all(text, '\\S+')))
                                  AS DOUBLE)), 6) AS DECIMAL(18,6)) AS w
      FROM documents GROUP BY source
      HAVING SUM(len(regexp_extract_all(text, '\\S+'))) > 0
    ),
    tot AS (
      SELECT CAST(SUM(w) AS DOUBLE) AS w_total,
             CAST(floor({_UPS_BUDGET_X} * CAST(SUM(n_tokens) AS DOUBLE))
                  AS BIGINT) AS target
      FROM c
    ),
    plan AS (
      SELECT c.source, c.n_docs, c.n_tokens,
             CAST(floor(CAST(tot.target AS DOUBLE)
                        * (CAST(c.w AS DOUBLE) / tot.w_total)) AS BIGINT)
               AS alloc_tokens
      FROM c, tot
    )
    SELECT source, n_docs, n_tokens, alloc_tokens,
           CAST(least({_UPS_MAX_EPOCHS},
                      ceil(CAST(alloc_tokens AS DOUBLE)
                           / CAST(n_tokens AS DOUBLE))) AS INTEGER) AS epochs,
           least(alloc_tokens, {_UPS_MAX_EPOCHS} * n_tokens) AS served_tokens,
           alloc_tokens > {_UPS_MAX_EPOCHS} * n_tokens AS undersupplied
    FROM plan
    """,
)
def ups1_epoch_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition (epoch) planning for a token budget — the
    data-constrained scaling recipe (Muennighoff et al. 2023,
    arXiv:2305.16264): given a training budget of {x}× the corpus and
    per-source sqrt-temperature mixing weights (mix1's alpha=0.5
    convention), how many EPOCHS of each source does the run take,
    capped at {k} repetitions past which repeated tokens stop helping?
    Per source: its allocation under the weight share, the capped
    epoch count, the tokens actually served, and an ``undersupplied``
    flag marking sources whose allocation the cap leaves unmet (the
    signal to go acquire more of that source). floor/ceil (never
    round) keep every boundary engine-unambiguous; weights are rounded
    to DECIMAL(18,6) before the exact decimal total (the mix1
    normalization rule); zero-token sources are excluded by policy on
    both sides.

    Scale: one map-side-combined groupBy(source) over per-doc token
    counts (a narrow projection), then scalar arithmetic on an
    n_sources-row table against a broadcast 1-row total. Nothing else
    shuffles at any corpus size."""
    from ..functions.dedup import tokens

    docs = load(spark, sf_dir, "documents")
    c = (
        docs.select("source", F.size(tokens(F.col("text"))).alias("__nt"))
        .groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("__nt").cast("long").alias("n_tokens"),
            F.round(F.sqrt(F.sum("__nt").cast("double")), 6)
            .cast("decimal(18,6)")
            .alias("w"),
        )
        .filter(F.col("n_tokens") > 0)
    )
    tot = c.agg(
        F.sum("w").cast("double").alias("w_total"),
        F.floor(F.lit(_UPS_BUDGET_X) * F.sum("n_tokens").cast("double"))
        .cast("long")
        .alias("target"),
    )
    plan = c.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        "n_tokens",
        F.floor(
            F.col("target").cast("double")
            * (F.col("w").cast("double") / F.col("w_total"))
        )
        .cast("long")
        .alias("alloc_tokens"),
    )
    return plan.select(
        "source",
        "n_docs",
        "n_tokens",
        "alloc_tokens",
        F.least(
            F.lit(_UPS_MAX_EPOCHS).cast("int"),
            F.ceil(
                F.col("alloc_tokens").cast("double")
                / F.col("n_tokens").cast("double")
            ).cast("int"),
        ).alias("epochs"),
        F.least(
            F.col("alloc_tokens"),
            F.lit(_UPS_MAX_EPOCHS) * F.col("n_tokens"),
        ).alias("served_tokens"),
        (
            F.col("alloc_tokens") > F.lit(_UPS_MAX_EPOCHS) * F.col("n_tokens")
        ).alias("undersupplied"),
    )


# --------------------------------------------------------------------------
# trunc1 — truncation-loss / chunk-padding analysis per source
# --------------------------------------------------------------------------

#: max sequence length (tokens) the downstream trainer accepts; 64 sits
#: inside this corpus' 10-99-token range so both policies show real cost.
_TRUNC_L = 64


@query(
    "trunc1_truncation_loss",
    oracle=f"""
    WITH per AS (
      SELECT source,
             CAST(len(regexp_extract_all(text, '\\S+')) AS BIGINT) AS nt
      FROM documents
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(nt) AS BIGINT) AS n_tokens,
           CAST(sum(CASE WHEN nt > {_TRUNC_L} THEN 1 ELSE 0 END) AS BIGINT)
             AS docs_truncated,
           CAST(sum(CASE WHEN nt > {_TRUNC_L} THEN nt - {_TRUNC_L} ELSE 0 END)
                AS BIGINT) AS tokens_lost,
           round(CAST(sum(CASE WHEN nt > {_TRUNC_L} THEN nt - {_TRUNC_L}
                               ELSE 0 END) AS DOUBLE)
                 / NULLIF(CAST(sum(nt) AS DOUBLE), 0), 6) AS loss_pct,
           CAST(sum(CAST(floor(CAST(nt + {_TRUNC_L} - 1 AS DOUBLE)
                               / {_TRUNC_L}) AS BIGINT)) AS BIGINT) AS n_chunks,
           CAST({_TRUNC_L} * sum(CAST(floor(CAST(nt + {_TRUNC_L} - 1 AS DOUBLE)
                                            / {_TRUNC_L}) AS BIGINT))
                - sum(nt) AS BIGINT) AS pad_tokens,
           round(CAST({_TRUNC_L}
                      * sum(CAST(floor(CAST(nt + {_TRUNC_L} - 1 AS DOUBLE)
                                       / {_TRUNC_L}) AS BIGINT))
                      - sum(nt) AS DOUBLE)
                 / NULLIF(CAST({_TRUNC_L}
                               * sum(CAST(floor(CAST(nt + {_TRUNC_L} - 1
                                                     AS DOUBLE)
                                                / {_TRUNC_L}) AS BIGINT))
                          AS DOUBLE), 0), 6) AS pad_pct
    FROM per GROUP BY source
    """,
)
def trunc1_truncation_loss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Truncation-loss vs chunk-padding analysis per source — the
    report a pipeline runs BEFORE choosing how to fit documents into a
    fixed ``max_seq_len``: policy A truncates each doc at L tokens
    (cheap, loses every token past L), policy B splits docs into
    ceil(n/L) chunks (loses nothing, pays padding in the final chunk).
    Per source: doc/token volume, docs over L and tokens truncation
    would lose (with its corpus share), and the chunk count, padding
    tokens, and padding share chunking would pay instead. The two
    ``*_pct`` columns are the decision: truncate where loss_pct is
    negligible, chunk (or length-group: pack1) where it is not.

    Every quantity is exact BIGINT arithmetic — chunk counts use the
    float-exact floor((n+L-1)/L) form (n ≪ 2^52) — and only the two
    final shares divide, once, as doubles rounded to 6 places
    (IEEE-identical across engines). Scale: one map-side-combined
    groupBy(source) over a narrow (source, token-count) projection;
    nothing else shuffles at any corpus size. Zero-token sources
    yield NULL shares via the shared nullif guard on both engines."""
    from ..functions.dedup import tokens

    docs = load(spark, sf_dir, "documents")
    nt = F.size(tokens(F.col("text"))).cast("long")
    lost = F.when(nt > _TRUNC_L, nt - _TRUNC_L).otherwise(F.lit(0).cast("long"))
    chunks = (
        F.floor((nt + _TRUNC_L - 1).cast("double") / F.lit(float(_TRUNC_L)))
        .cast("long")
    )
    agg = (
        docs.select("source", nt.alias("nt"), lost.alias("lost"),
                    chunks.alias("chunks"))
        .groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("nt").cast("long").alias("n_tokens"),
            F.sum((F.col("lost") > 0).cast("long")).cast("long")
            .alias("docs_truncated"),
            F.sum("lost").cast("long").alias("tokens_lost"),
            F.sum("chunks").cast("long").alias("n_chunks"),
        )
    )
    slots = (F.lit(_TRUNC_L).cast("long") * F.col("n_chunks")).cast("long")
    return agg.select(
        "source",
        "n_docs",
        "n_tokens",
        "docs_truncated",
        "tokens_lost",
        F.round(
            F.col("tokens_lost").cast("double")
            / F.nullif(F.col("n_tokens").cast("double"), F.lit(0.0)),
            6,
        ).alias("loss_pct"),
        "n_chunks",
        (slots - F.col("n_tokens")).alias("pad_tokens"),
        F.round(
            (slots - F.col("n_tokens")).cast("double")
            / F.nullif(slots.cast("double"), F.lit(0.0)),
            6,
        ).alias("pad_pct"),
    )


# --------------------------------------------------------------------------
# cal1 — quality-gate threshold sweep (retention curve)
# --------------------------------------------------------------------------

_CAL_STOPWORD_RE = r"\b(the|a|of|to|and)\b"


@query(
    "cal1_quality_gate_sweep",
    oracle=f"""
    WITH per AS (
      SELECT CAST(len(regexp_extract_all(text, '\\S+')) AS BIGINT) AS nt,
             (CASE WHEN len(regexp_extract_all(text, '\\S+'))
                        BETWEEN 50 AND 100000 THEN 1 ELSE 0 END
              + CASE WHEN CAST(length(regexp_replace(text, '\\s', '', 'g'))
                               AS DOUBLE)
                          / NULLIF(len(regexp_extract_all(text, '\\S+')), 0)
                          BETWEEN 3.0 AND 10.0 THEN 1 ELSE 0 END
              + CASE WHEN CAST(length(regexp_replace(text,
                                 '[A-Za-z0-9\\s]', '', 'g')) AS DOUBLE)
                          / NULLIF(length(text), 0) < 0.1
                     THEN 1 ELSE 0 END
              + CASE WHEN len(regexp_extract_all(lower(text),
                                 '{_CAL_STOPWORD_RE}')) >= 2
                     THEN 1 ELSE 0 END) AS passes
      FROM documents
    ),
    b AS (
      SELECT passes, CAST(count(*) AS BIGINT) AS docs,
             CAST(sum(nt) AS BIGINT) AS toks
      FROM per GROUP BY passes
    ),
    tot AS (
      SELECT CAST(count(*) AS BIGINT) AS total_docs,
             CAST(coalesce(sum(nt), 0) AS BIGINT) AS total_tokens
      FROM per
    )
    SELECT CAST(t.threshold AS INTEGER) AS threshold,
           CAST(coalesce(sum(b.docs), 0) AS BIGINT) AS docs_kept,
           CAST(coalesce(sum(b.toks), 0) AS BIGINT) AS tokens_kept,
           round(CAST(coalesce(sum(b.docs), 0) AS DOUBLE)
                 / NULLIF(CAST(any_value(tot.total_docs) AS DOUBLE), 0), 6)
             AS docs_pct,
           round(CAST(coalesce(sum(b.toks), 0) AS DOUBLE)
                 / NULLIF(CAST(any_value(tot.total_tokens) AS DOUBLE), 0), 6)
             AS tokens_pct
    FROM range(5) AS t(threshold)
    CROSS JOIN tot
    LEFT JOIN b ON b.passes >= t.threshold
    GROUP BY t.threshold
    """,
)
def cal1_quality_gate_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-gate threshold sweep — the retention curve you read
    before committing a rule filter to 100 TB: for each threshold
    t = 0..4 on the number of Gopher rules passed (qc1's four: token
    bounds, mean-word-length band, symbol ratio, stopword presence),
    how many documents and tokens survive ``passes >= t``, in absolute
    and corpus-share terms. t=0 is the unfiltered baseline; the drop
    between adjacent rows is the marginal cost of each extra rule —
    the calibration evidence for choosing qc1's gate (and for catching
    a rule that silently deletes a third of the corpus).

    All five thresholds always appear (a LEFT join from the threshold
    spine, empty buckets coalesced to 0), so the output shape is
    stable on any corpus including the empty one. Rule semantics are
    byte-identical to qc1; NULL rule inputs (zero-token docs) count as
    a non-pass on both engines via the CASE/when ELSE-0 arm. Scale:
    one narrow projection to (passes, token-count), one map-side-
    combined groupBy over ≤ 5 distinct pass counts, then a 5×5
    broadcast join against the threshold spine — after the first
    aggregation nothing is larger than 5 rows."""
    docs = load(spark, sf_dir, "documents")
    nt = F.size(F.regexp_extract_all(F.col("text"), F.lit(r"\S+"), 0))
    n_word_chars = F.length(F.regexp_replace(F.col("text"), r"\s", ""))
    n_symbol_chars = F.length(
        F.regexp_replace(F.col("text"), r"[A-Za-z0-9\s]", "")
    )
    mean_word_len = n_word_chars.cast("double") / F.nullif(nt, F.lit(0))
    symbol_ratio = n_symbol_chars.cast("double") / F.nullif(
        F.length("text"), F.lit(0)
    )
    stopword_hits = F.size(
        F.regexp_extract_all(F.lower(F.col("text")), F.lit(_CAL_STOPWORD_RE), 0)
    )
    passes = (
        F.when(nt.between(50, 100000), 1).otherwise(0)
        + F.when(mean_word_len.between(3.0, 10.0), 1).otherwise(0)
        + F.when(symbol_ratio < 0.1, 1).otherwise(0)
        + F.when(stopword_hits >= 2, 1).otherwise(0)
    )
    per = docs.select(passes.alias("passes"), nt.cast("long").alias("nt"))
    b = per.groupBy("passes").agg(
        F.count("*").cast("long").alias("docs"),
        F.sum("nt").cast("long").alias("toks"),
    )
    tot = per.agg(
        F.count("*").cast("long").alias("total_docs"),
        F.coalesce(F.sum("nt"), F.lit(0)).cast("long").alias("total_tokens"),
    )
    thr = spark.range(5).select(F.col("id").cast("int").alias("threshold"))
    return (
        thr.join(F.broadcast(b), F.col("passes") >= F.col("threshold"), "left")
        .groupBy("threshold")
        .agg(
            F.coalesce(F.sum("docs"), F.lit(0)).cast("long").alias("docs_kept"),
            F.coalesce(F.sum("toks"), F.lit(0)).cast("long")
            .alias("tokens_kept"),
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "threshold",
            "docs_kept",
            "tokens_kept",
            F.round(
                F.col("docs_kept").cast("double")
                / F.nullif(F.col("total_docs").cast("double"), F.lit(0.0)),
                6,
            ).alias("docs_pct"),
            F.round(
                F.col("tokens_kept").cast("double")
                / F.nullif(F.col("total_tokens").cast("double"), F.lit(0.0)),
                6,
            ).alias("tokens_pct"),
        )
    )


# --------------------------------------------------------------------------
# oov1 — vocabulary coverage / OOV rate per source
# --------------------------------------------------------------------------

_OOV_VOCAB_K = 100


@query(
    "oov1_vocab_coverage",
    oracle=f"""
    WITH toks AS (
      SELECT source,
             unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS token
      FROM documents
    ),
    vocab AS (
      SELECT token FROM toks GROUP BY token
      ORDER BY count(*) DESC, token LIMIT {_OOV_VOCAB_K}
    ),
    marked AS (
      SELECT t.source, t.token, v.token IS NOT NULL AS in_vocab
      FROM toks t LEFT JOIN vocab v ON t.token = v.token
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(sum(CASE WHEN in_vocab THEN 1 ELSE 0 END) AS BIGINT)
             AS covered_tokens,
           round(1.0 - CAST(sum(CASE WHEN in_vocab THEN 1 ELSE 0 END)
                            AS DOUBLE)
                 / NULLIF(CAST(count(*) AS DOUBLE), 0), 6) AS oov_rate,
           CAST(count(DISTINCT token) AS BIGINT) AS distinct_tokens,
           CAST(count(DISTINCT CASE WHEN NOT in_vocab THEN token END)
                AS BIGINT) AS distinct_oov
    FROM marked GROUP BY source
    """,
)
def oov1_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary coverage / out-of-vocabulary rate per source against
    the corpus' own top-100 token vocabulary (t9's construction rule:
    frequency-desc, token tie-break — the deterministic cut a
    tokenizer-training pass would take). Per source: token volume, the
    occurrences the vocab covers, the OOV rate, and the distinct-type
    counts behind it — the fertility/coverage report that decides
    whether a tokenizer (or a fixed stopword list) transfers to a new
    source, and the per-source signal that one source is about to blow
    up the subword fallback path.

    Scale shape: the token explode is NARROW and evaluated once per
    consumer (the vocab build and the coverage mark — re-scanning
    beats persisting an exploded 100 TB corpus); the vocab side is a
    map-side-combined count + TakeOrdered heap (never a global sort)
    reduced to 100 rows — broadcast — so the mark is a broadcast LEFT
    join on the exploded stream, then one groupBy(source) carries the
    distinct counts. The only corpus-sized exchanges are the vocab
    count and that final aggregate; the rate divides once, on exact
    BIGINTs."""
    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        "source",
        F.explode(
            F.regexp_extract_all(F.lower("text"), F.lit("[a-z0-9]+"), 0)
        ).alias("token"),
    )
    vocab = (
        toks.groupBy("token")
        .agg(F.count("*").alias("__freq"))
        .orderBy(F.col("__freq").desc(), "token")
        .limit(_OOV_VOCAB_K)
        .select("token", F.lit(True).alias("__in_vocab"))
    )
    marked = toks.join(F.broadcast(vocab), "token", "left_outer").select(
        "source",
        "token",
        F.coalesce(F.col("__in_vocab"), F.lit(False)).alias("in_vocab"),
    )
    return marked.groupBy("source").agg(
        F.count("*").cast("long").alias("n_tokens"),
        F.sum(F.col("in_vocab").cast("long")).cast("long")
        .alias("covered_tokens"),
        F.round(
            F.lit(1.0)
            - F.sum(F.col("in_vocab").cast("long")).cast("double")
            / F.nullif(F.count("*").cast("double"), F.lit(0.0)),
            6,
        ).alias("oov_rate"),
        F.count_distinct(F.col("token")).cast("long").alias("distinct_tokens"),
        F.count_distinct(
            F.when(~F.col("in_vocab"), F.col("token"))
        ).cast("long").alias("distinct_oov"),
    )


# --------------------------------------------------------------------------
# drift1 — per-source length-distribution drift vs the corpus
# --------------------------------------------------------------------------

_DRIFT_BUCKET_W = 10
_DRIFT_N_BUCKETS = 13  # bucket = least(floor(n_tokens/10), 12)


@query(
    "drift1_source_length_drift",
    oracle=f"""
    WITH per AS (
      SELECT source,
             least(CAST(floor(CAST(len(regexp_extract_all(text, '\\S+'))
                                   AS DOUBLE) / {_DRIFT_BUCKET_W}) AS BIGINT),
                   {_DRIFT_N_BUCKETS - 1}) AS bucket
      FROM documents
    ),
    sb AS (
      SELECT source, bucket, CAST(count(*) AS BIGINT) AS c
      FROM per GROUP BY source, bucket
    ),
    srcs AS (
      SELECT source, CAST(sum(c) AS BIGINT) AS n_s FROM sb GROUP BY source
    ),
    bkts AS (
      SELECT bucket, CAST(sum(c) AS BIGINT) AS big_c FROM sb GROUP BY bucket
    ),
    tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM sb),
    grid AS (
      SELECT srcs.source, srcs.n_s, bkts.bucket, bkts.big_c,
             CAST(coalesce(sb.c, 0) AS BIGINT) AS c
      FROM srcs CROSS JOIN bkts
      LEFT JOIN sb ON sb.source = srcs.source AND sb.bucket = bkts.bucket
    ),
    dev AS (
      SELECT source, n_s,
             CAST(sum(abs(CAST(c AS DECIMAL(38,0))
                          * CAST(tot.n AS DECIMAL(38,0))
                          - CAST(big_c AS DECIMAL(38,0))
                          * CAST(n_s AS DECIMAL(38,0))))
                  AS DECIMAL(38,0)) AS dsum,
             CAST(any_value(tot.n) AS BIGINT) AS n
      FROM grid CROSS JOIN tot
      GROUP BY source, n_s
    )
    SELECT source, n_s AS n_docs,
           round(CAST(dsum AS DOUBLE)
                 / NULLIF(2.0 * CAST(n_s AS DOUBLE) * CAST(n AS DOUBLE), 0),
                 6) AS tvd,
           5 * dsum > 2 * CAST(n_s AS DECIMAL(38,0)) * CAST(n AS DECIMAL(38,0))
             AS is_drifted
    FROM dev
    """,
)
def drift1_source_length_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-drift monitor: for every source, the total-
    variation distance between ITS document-length distribution
    (13 fixed-width token buckets, top bucket open-ended) and the
    whole corpus' — the ingest-time check that catches a feed whose
    scraper broke, whose boilerplate stripper regressed, or whose
    content silently changed shape, before it trains. TVD (half the
    L1 distance between the two histograms) is the standard two-sample
    drift statistic that needs no libm (PSI/KL's ln is banned by the
    cross-engine rules); ``is_drifted`` flags TVD > 0.2 via the exact
    cross-multiplied form ``5·Σ|c_i·N − C_i·n_s| > 2·n_s·N`` in
    DECIMAL(38,0) — like emb5, no division or float threshold at the
    boundary. The surfaced ``tvd`` divides once, on exact integers.

    Scale shape: ONE map-side-combined groupBy(source, bucket) over a
    narrow bucket projection reduces the corpus to ≤ n_sources × 13
    rows; everything after (source totals, bucket totals, the dense
    source×bucket grid restoring zero-count buckets, the deviation
    sum) is arithmetic on that tiny table with broadcast attaches.
    DECIMAL(38,0) products keep c_i·N exact past the BIGINT range a
    100 TB corpus (c_i ~ 1e11, N ~ 1e12) would overflow."""
    from ..functions.dedup import tokens

    docs = load(spark, sf_dir, "documents")
    bucket = F.least(
        F.floor(
            F.size(tokens(F.col("text"))).cast("double")
            / F.lit(float(_DRIFT_BUCKET_W))
        ).cast("long"),
        F.lit(_DRIFT_N_BUCKETS - 1).cast("long"),
    )
    sb = (
        docs.select("source", bucket.alias("bucket"))
        .groupBy("source", "bucket")
        .agg(F.count("*").cast("long").alias("c"))
    )
    srcs = sb.groupBy("source").agg(F.sum("c").cast("long").alias("n_s"))
    bkts = sb.groupBy("bucket").agg(F.sum("c").cast("long").alias("big_c"))
    tot = sb.agg(F.sum("c").cast("long").alias("n"))
    grid = (
        srcs.crossJoin(F.broadcast(bkts))
        .join(sb, ["source", "bucket"], "left_outer")
        .select(
            "source",
            "n_s",
            "bucket",
            "big_c",
            F.coalesce(F.col("c"), F.lit(0)).cast("long").alias("c"),
        )
    )
    dec = lambda col: col.cast("decimal(38,0)")  # noqa: E731
    dev = (
        grid.crossJoin(F.broadcast(tot))
        .groupBy("source")
        .agg(
            F.any_value(F.col("n_s")).alias("n_s"),
            F.sum(
                F.abs(
                    dec(F.col("c")) * dec(F.col("n"))
                    - dec(F.col("big_c")) * dec(F.col("n_s"))
                )
            )
            .cast("decimal(38,0)")
            .alias("dsum"),
            F.any_value(F.col("n")).cast("long").alias("n"),
        )
    )
    return dev.select(
        "source",
        F.col("n_s").alias("n_docs"),
        F.round(
            F.col("dsum").cast("double")
            / F.nullif(
                F.lit(2.0)
                * F.col("n_s").cast("double")
                * F.col("n").cast("double"),
                F.lit(0.0),
            ),
            6,
        ).alias("tvd"),
        (
            F.lit(5).cast("decimal(38,0)") * F.col("dsum")
            > F.lit(2).cast("decimal(38,0)")
            * dec(F.col("n_s"))
            * dec(F.col("n"))
        ).alias("is_drifted"),
    )


# --------------------------------------------------------------------------
# sw1 — stopword-list derivation by document frequency
# --------------------------------------------------------------------------

_SW_MIN_DF_PCT = 30  # keep tokens present in >= 30% of docs
_SW_TOP = 50


@query(
    "sw1_stopword_derivation",
    oracle=f"""
    WITH dt AS (
      SELECT DISTINCT doc_id, t.token
      FROM documents,
           UNNEST(regexp_extract_all(lower(text), '[a-z0-9]+')) AS t(token)
    ),
    n AS (
      SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents
    ),
    df AS (
      SELECT token, CAST(count(*) AS BIGINT) AS doc_freq FROM dt GROUP BY token
    )
    SELECT token, doc_freq,
           round(CAST(doc_freq AS DOUBLE) / CAST(n.n_docs AS DOUBLE), 6)
             AS df_share
    FROM df CROSS JOIN n
    WHERE doc_freq * 100 >= {_SW_MIN_DF_PCT} * n.n_docs
    ORDER BY doc_freq DESC, token
    LIMIT {_SW_TOP}
    """,
)
def sw1_stopword_derivation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-driven stopword-list derivation: the tokens present in at
    least 30% of ALL documents (document frequency, not raw count — a
    single spammy doc repeating a token a million times cannot promote
    it), top-50 by df with a deterministic token tie-break. This is how
    the t2/qc1 stopword lists SHOULD be produced for a new language or
    domain instead of hard-coding English function words; it is also
    cos1/d2b's stop-shingle cap principle applied at the token level.
    The threshold is the exact integer cross-product form
    ``100·df ≥ 30·n_docs`` — no float boundary; ``df_share`` divides
    once, on exact BIGINTs, for the human reading the list.

    Scale shape: one explode deduplicated per (doc, token) — the
    distinct is hash-partitioned on the pair, the same bounded shape
    as d11's segment window — then a map-side-combined token count,
    a broadcast 1-row n_docs attach, and a TakeOrdered heap (never a
    global sort) for the top-50 cut."""
    docs = load(spark, sf_dir, "documents")
    dt = docs.select(
        "doc_id",
        F.explode(
            F.regexp_extract_all(F.lower("text"), F.lit("[a-z0-9]+"), 0)
        ).alias("token"),
    ).distinct()
    n = docs.agg(F.count("*").cast("long").alias("n_docs"))
    df = dt.groupBy("token").agg(F.count("*").cast("long").alias("doc_freq"))
    return (
        df.crossJoin(F.broadcast(n))
        .filter(
            F.col("doc_freq") * F.lit(100)
            >= F.lit(_SW_MIN_DF_PCT) * F.col("n_docs")
        )
        .select(
            "token",
            "doc_freq",
            F.round(
                F.col("doc_freq").cast("double")
                / F.col("n_docs").cast("double"),
                6,
            ).alias("df_share"),
        )
        .orderBy(F.col("doc_freq").desc(), "token")
        .limit(_SW_TOP)
    )


# --------------------------------------------------------------------------
# hits1 — HITS hubs & authorities (round 10)
# --------------------------------------------------------------------------

_HITS_ROUNDS = 3
_HITS_SCALE = 10**6


def _hits_oracle(n_iter: int = _HITS_ROUNDS) -> str:
    """Unrolled-CTE replay of the L1-normalized integer HITS
    recurrence (gr1 precedent): every round is two exact steps —
    authority mass summed from hubs then renormalized to 1e6 total
    by ONE integral division, and symmetrically for hubs — so the
    whole chain is BIGINT/HUGEINT arithmetic with nothing to round."""
    head = f"""
    WITH e AS (
      SELECT DISTINCT 'c' || CAST(o.o_custkey AS VARCHAR) AS c,
                      's' || CAST(l.l_suppkey AS VARCHAR) AS s
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    ),
    h0 AS (SELECT DISTINCT c AS node, CAST({_HITS_SCALE} AS BIGINT) AS score
           FROM e)"""
    step = f""",
    ar{{k}} AS (
      SELECT e.s AS node, CAST(SUM(h.score) AS HUGEINT) AS raw
      FROM e JOIN h{{k}} h ON e.c = h.node GROUP BY 1
    ),
    a{{k1}} AS (
      SELECT node, CAST(({_HITS_SCALE} * raw)
             // NULLIF(SUM(raw) OVER (), 0) AS BIGINT) AS score
      FROM ar{{k}}
    ),
    hr{{k}} AS (
      SELECT e.c AS node, CAST(SUM(a.score) AS HUGEINT) AS raw
      FROM e JOIN a{{k1}} a ON e.s = a.node GROUP BY 1
    ),
    h{{k1}} AS (
      SELECT node, CAST(({_HITS_SCALE} * raw)
             // NULLIF(SUM(raw) OVER (), 0) AS BIGINT) AS score
      FROM hr{{k}}
    )"""
    body = "".join(step.format(k=k, k1=k + 1) for k in range(n_iter))
    return (
        head
        + body
        + f"""
    SELECT node, 'hub' AS role, score AS score_micro FROM h{n_iter}
    UNION ALL
    SELECT node, 'authority' AS role, score AS score_micro FROM a{n_iter}"""
    )


@query("hits1_hubs_authorities", oracle=_hits_oracle())
def hits1_hubs_authorities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs & authorities (Kleinberg 1999, "Authoritative sources
    in a hyperlinked environment"), 3 unrolled rounds over the
    customer→supplier order graph — the canonical bipartite fixture:
    customers are pure hubs (only out-edges), suppliers pure
    authorities. Where gr1's PageRank scores global random-walk mass,
    HITS separates "good pointer" from "good target" — on a doc-link
    or source-citation graph this is the mutual-reinforcement scoring
    a curation pipeline uses to weight aggregator sources (hubs)
    differently from primary sources (authorities).

    Exactness: the published L2 normalization needs sqrt, so this
    implementation normalizes each half-step to a TOTAL of 1e6 micro
    units (L1) — scale-equivalent ranking (normalization constants
    cancel in the recurrence's ordering), and every step becomes
    exact integer arithmetic: BIGINT mass sums, ONE integral division
    per half-step against the broadcast 1-row total (HUGEINT /
    DECIMAL(38,0) cross-products so nothing wraps), NULL-guarded on
    the degenerate empty-mass case. The oracle unrolls the identical
    recurrence as chained CTEs — bit-for-bit, the gr1 contract.

    Scale shape: the distinct edge list persists once (longs, the gr1
    parity encoding, decoded on the way out); each half-step is one
    edge⋈score join where the score table (one row per node ≪ edges)
    broadcasts, one map-side-combinable SUM, and a 1-row total
    broadcast back — the whole 3-round chain is one lazy plan. The
    score-table broadcast is SIZE-GATED like the graph fixed-point
    loops (verdict r10 task 3): nodes ≤ customers + suppliers, a
    parquet-metadata-cheap upper bound, and past
    BROADCAST_LABEL_MAX_NODES the hint drops so the half-step joins
    run as co-partitioned shuffles instead of OOMing the driver."""
    from pyspark import StorageLevel

    from aqi_analysis_apache_airflow_spark.functions.graph import (
        _label_side,
        dim_broadcast_gate,
    )

    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    # node-count UPPER BOUND from the dimension tables, MEMOIZED per
    # sf_dir (the bare metadata counts still cost 0.21s of job
    # scheduling per call — A/B 2026-08-16)
    bc = dim_broadcast_gate(spark, sf_dir)
    e = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(
            (F.col("o_custkey") * 2).cast("long").alias("c"),
            (F.col("l_suppkey") * 2 + 1).cast("long").alias("s"),
        )
        .distinct()
        .repartition("c")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    dec = lambda col: col.cast("decimal(38,0)")  # noqa: E731

    def normalize(raw: DataFrame) -> DataFrame:
        # unpartitioned-window total, NOT a 1-row agg joined back: the
        # join form references `raw` twice and the six chained
        # normalizations would re-execute the shared subtree 2^6 times
        # in this ONE lazy plan (the mmr1/kcore lesson); the window
        # keeps the chain single-reference, and its single-partition
        # exchange carries only the node-sized score table
        return raw.select(
            "node",
            F.expr(
                f"CAST((CAST({_HITS_SCALE} AS DECIMAL(38,0)) * raw)"
                " div nullif(sum(raw) over (), 0) AS BIGINT)"
            ).alias("score"),
        )

    hub = e.select(F.col("c").alias("node")).distinct().select(
        "node", F.lit(_HITS_SCALE).cast("long").alias("score")
    )
    auth = None
    for r in range(_HITS_ROUNDS):
        araw = (
            e.join(_label_side(hub.withColumnRenamed("node", "c"), bc), "c")
            .groupBy(F.col("s").alias("node"))
            .agg(dec(F.sum("score")).alias("raw"))
        )
        auth = normalize(araw)
        if r == _HITS_ROUNDS - 1:
            # the last round's authority table feeds BOTH the final hub
            # half-step and the output union — a lazy checkpoint dedups
            # the shared 5-half-step subtree at runtime (2x otherwise)
            auth = auth.localCheckpoint(eager=False)
        hraw = (
            e.join(_label_side(auth.withColumnRenamed("node", "s"), bc), "s")
            .groupBy(F.col("c").alias("node"))
            .agg(dec(F.sum("score")).alias("raw"))
        )
        hub = normalize(hraw)

    decode = lambda col: F.when(  # noqa: E731
        F.col(col) % 2 == 0,
        F.concat(F.lit("c"), F.expr(f"CAST({col} div 2 AS STRING)")),
    ).otherwise(F.concat(F.lit("s"), F.expr(f"CAST({col} div 2 AS STRING)")))
    return hub.select(
        decode("node").alias("node"),
        F.lit("hub").alias("role"),
        F.col("score").alias("score_micro"),
    ).unionByName(
        auth.select(
            decode("node").alias("node"),
            F.lit("authority").alias("role"),
            F.col("score").alias("score_micro"),
        )
    )


# --------------------------------------------------------------------------
# card1 — per-source dataset card (round-10 composition proof)
# --------------------------------------------------------------------------

_CARD1_SQL = r"""
WITH d AS (
  SELECT doc_id, source, lang, text,
         CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS n_tok,
         CAST(length(text) AS BIGINT) AS n_chr,
         md5(text) AS h
  FROM documents
  WHERE doc_id IS NOT NULL AND text IS NOT NULL
),
hc AS (SELECT h, CAST(count(*) AS BIGINT) AS c FROM d GROUP BY h),
flagged AS (
  SELECT d.*,
         CASE WHEN hc.c >= 2 THEN 1 ELSE 0 END AS is_dup,
         CASE WHEN d.n_tok >= 20 AND d.n_chr <= 12 * d.n_tok
              THEN 1 ELSE 0 END AS qpass
  FROM d JOIN hc USING (h)
),
lm AS (
  SELECT source, lang, CAST(count(*) AS BIGINT) AS c FROM flagged
  GROUP BY source, lang
),
toplang AS (
  SELECT source, lang AS top_lang, n_langs
  FROM (SELECT source, lang, c,
               row_number() OVER (PARTITION BY source
                                  ORDER BY c DESC, lang) AS rk,
               CAST(count(*) OVER (PARTITION BY source) AS BIGINT) AS n_langs
        FROM lm) t
  WHERE rk = 1
),
agg AS (
  SELECT source,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(n_tok) AS BIGINT) AS n_tokens,
         CAST(sum(n_chr) AS BIGINT) AS n_chars,
         CAST(sum(is_dup) AS BIGINT) AS dup_docs,
         CAST(sum(qpass) AS BIGINT) AS qpass_docs
  FROM flagged GROUP BY source
)
SELECT a.source, a.n_docs, a.n_tokens, a.n_chars,
       a.dup_docs,
       CAST((1000 * a.dup_docs) // a.n_docs AS BIGINT) AS dup_permille,
       a.qpass_docs,
       CAST((1000 * a.qpass_docs) // a.n_docs AS BIGINT) AS qpass_permille,
       CAST((1000 * a.n_tokens) // a.n_docs AS BIGINT) AS tokens_per_doc_milli,
       t.n_langs, t.top_lang
FROM agg a JOIN toplang t USING (source)
"""


@query("card1_source_dataset_card", oracle=_CARD1_SQL)
def card1_source_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source DATASET CARD — the one-row-per-source corpus report
    a data-governance process publishes (Gebru et al. 2021,
    "Datasheets for Datasets" / the HF dataset-card convention):
    volume (docs, tokens, chars), cross-corpus exact-duplicate rate
    (a doc is dup if its payload hash occurs ≥ 2 ANYWHERE — so two
    sources mirroring each other both show it), language count +
    plurality language, a Gopher-style quick quality gate (≥ 20
    tokens, mean word length ≤ 12 chars via the integer cross-product
    n_chars ≤ 12·n_tokens), and tokens/doc. The round-10 composition
    proof: d1's corpus hash table, t1's token stats, t2's language
    profile and qc1's rule-gate shape fused into ONE lazy plan.

    Exactness: every figure is a BIGINT count or sum; the three rates
    exit as integral permille divisions (n_docs ≥ 1 per group by
    construction); the plurality language ties to the smallest lang
    via a fully-tiebroken rank window over the (source, lang) table.

    Scale shape: one scan computes tokens/chars/hash per doc; the
    only corpus-sized shuffles are the hash groupBy (d1's) and its
    join back, plus one source groupBy — the (source, lang) table and
    its rank window are dimension-sized. At 100 TB the hash join is
    the dedup pipeline's existing artifact; everything else is
    map-side combinable."""
    docs = load(spark, sf_dir, "documents").filter(
        F.col("doc_id").isNotNull() & F.col("text").isNotNull()
    )
    from ..functions.dedup import tokens

    d = docs.select(
        "source",
        "lang",
        F.size(tokens(F.col("text"))).cast("long").alias("n_tok"),
        F.length("text").cast("long").alias("n_chr"),
        F.md5("text").alias("h"),
    )
    hc = d.groupBy("h").agg(F.count("*").cast("long").alias("c"))
    flagged = d.join(hc, "h").select(
        "source",
        "lang",
        "n_tok",
        "n_chr",
        F.when(F.col("c") >= 2, 1).otherwise(0).alias("is_dup"),
        F.when(
            (F.col("n_tok") >= 20) & (F.col("n_chr") <= 12 * F.col("n_tok")),
            1,
        )
        .otherwise(0)
        .alias("qpass"),
    )
    lm = flagged.groupBy("source", "lang").agg(
        F.count("*").cast("long").alias("c")
    )
    wrk = Window.partitionBy("source").orderBy(
        F.col("c").desc(), F.col("lang").asc()
    )
    wn = Window.partitionBy("source")
    toplang = (
        lm.withColumn("rk", F.row_number().over(wrk))
        .withColumn("n_langs", F.count("*").over(wn).cast("long"))
        .filter(F.col("rk") == 1)
        .select("source", F.col("lang").alias("top_lang"), "n_langs")
    )
    agg = flagged.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_tok").cast("long").alias("n_tokens"),
        F.sum("n_chr").cast("long").alias("n_chars"),
        F.sum("is_dup").cast("long").alias("dup_docs"),
        F.sum("qpass").cast("long").alias("qpass_docs"),
    )
    return agg.join(F.broadcast(toplang), "source").select(
        "source",
        "n_docs",
        "n_tokens",
        "n_chars",
        "dup_docs",
        F.expr("CAST((1000 * dup_docs) div n_docs AS BIGINT)").alias(
            "dup_permille"
        ),
        "qpass_docs",
        F.expr("CAST((1000 * qpass_docs) div n_docs AS BIGINT)").alias(
            "qpass_permille"
        ),
        F.expr("CAST((1000 * n_tokens) div n_docs AS BIGINT)").alias(
            "tokens_per_doc_milli"
        ),
        "n_langs",
        "top_lang",
    )


# --------------------------------------------------------------------------
# basket1 — association-rule mining (frequent 2-itemsets) (round 10)
# --------------------------------------------------------------------------

_BK1_MINSUP = 2
_BK1_TOPK = 100

_BK1_SQL = f"""
WITH it AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
            WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL),
nn AS (SELECT CAST(count(DISTINCT o) AS BIGINT) AS n FROM it),
cx AS (SELECT p, CAST(count(*) AS BIGINT) AS c FROM it GROUP BY p),
pr AS (
  SELECT a.p AS part_a, b.p AS part_b
  FROM it a JOIN it b ON a.o = b.o AND a.p < b.p
),
cc AS (
  SELECT part_a, part_b, CAST(count(*) AS BIGINT) AS sup
  FROM pr GROUP BY 1, 2
  HAVING count(*) >= {_BK1_MINSUP}
)
SELECT cc.part_a, cc.part_b, cc.sup AS pair_support,
       CAST((1000000 * CAST(cc.sup AS HUGEINT) * nn.n)
            // (CAST(ca.c AS HUGEINT) * cb.c) AS BIGINT) AS lift_ppm,
       CAST((1000 * cc.sup) // ca.c AS BIGINT) AS conf_ab_permille,
       CAST((1000 * cc.sup) // cb.c AS BIGINT) AS conf_ba_permille
FROM cc
JOIN cx ca ON ca.p = cc.part_a
JOIN cx cb ON cb.p = cc.part_b
CROSS JOIN nn
ORDER BY lift_ppm DESC, pair_support DESC, part_a, part_b
LIMIT {_BK1_TOPK}
"""


@query("basket1_association_rules", oracle=_BK1_SQL)
def basket1_association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent 2-itemset association rules over order baskets
    (Agrawal, Imieliński & Swami 1993, "Mining association rules
    between sets of items in large databases"): parts co-ordered in
    the same order, scored by support, both-direction confidence, and
    lift — the market-basket / co-retrieval primitive (on a query log
    the identical plan mines co-clicked documents; on a corpus,
    co-cited sources). Top-{_BK1_TOPK} by lift over the ≥{_BK1_MINSUP}
    -support pairs.

    Exactness: support and item counts are BIGINTs; lift exits as ONE
    integral ppm division of HUGEINT/DECIMAL(38,0) cross-products
    (c_xy·N vs c_x·c_y — the kw1 convention), confidences as integral
    permille divisions (item counts ≥ 1 by construction); the top-k
    orders by the fully-tiebroken (lift, support, part_a, part_b) key.

    Scale shape: the within-order pair join is naturally bounded by
    basket size (TPC-H orders hold ≤ 7 line items, so fan-out ≤ 21
    pairs/order; a 100 TB log with power-law baskets applies the lp1
    df-cap on basket size first — same prune, same place); the pair
    aggregate is map-side combinable; item counts broadcast; the
    top-k is a TakeOrderedAndProject, never a global sort."""
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    it = (
        li.filter(
            F.col("l_orderkey").isNotNull() & F.col("l_partkey").isNotNull()
        )
        .select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p"))
        .distinct()
    )
    nn = it.agg(F.countDistinct("o").cast("long").alias("n"))
    cx = it.groupBy("p").agg(F.count("*").cast("long").alias("c"))
    a = it.select("o", F.col("p").alias("part_a"))
    b = it.select("o", F.col("p").alias("part_b"))
    cc = (
        a.join(b, "o")
        .filter(F.col("part_a") < F.col("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count("*").cast("long").alias("sup"))
        .filter(F.col("sup") >= _BK1_MINSUP)
    )
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    out = (
        cc.join(
            F.broadcast(cx.select(F.col("p").alias("part_a"),
                                  F.col("c").alias("ca"))),
            "part_a",
        )
        .join(
            F.broadcast(cx.select(F.col("p").alias("part_b"),
                                  F.col("c").alias("cb"))),
            "part_b",
        )
        .join(F.broadcast(nn))
        .select(
            "part_a",
            "part_b",
            F.col("sup").alias("pair_support"),
            (
                (dec(F.lit(1000000)) * F.col("sup") * F.col("n"))
                - F.pmod(
                    dec(F.lit(1000000)) * F.col("sup") * F.col("n"),
                    dec(F.col("ca")) * F.col("cb"),
                )
            )
            .cast("decimal(38,0)")
            .alias("__lnum"),
            F.expr("CAST((1000 * sup) div ca AS BIGINT)").alias(
                "conf_ab_permille"
            ),
            F.expr("CAST((1000 * sup) div cb AS BIGINT)").alias(
                "conf_ba_permille"
            ),
            (dec(F.col("ca")) * F.col("cb")).alias("__lden"),
        )
        .select(
            "part_a",
            "part_b",
            "pair_support",
            (F.col("__lnum") / F.col("__lden"))
            .cast("decimal(38,0)")
            .cast("long")
            .alias("lift_ppm"),
            "conf_ab_permille",
            "conf_ba_permille",
        )
    )
    return out.orderBy(
        F.col("lift_ppm").desc(),
        F.col("pair_support").desc(),
        "part_a",
        "part_b",
    ).limit(_BK1_TOPK)


# --------------------------------------------------------------------------
# psi1 — Population Stability Index per source (round 10)
# --------------------------------------------------------------------------

_PSI_BUCKET_W = 50
_PSI_N_BUCKETS = 13  # bucket = least(floor(n_chars/50), 12), the drift1 grid


_PSI_SQL = f"""
WITH docs AS (
  SELECT source,
         least(CAST(floor(CAST(n_chars AS DOUBLE) / {_PSI_BUCKET_W})
                    AS BIGINT), {_PSI_N_BUCKETS - 1}) AS b
  FROM documents WHERE source IS NOT NULL AND n_chars IS NOT NULL
),
srcs AS (SELECT DISTINCT source FROM docs),
buckets AS (
  SELECT s.source, u.b
  FROM srcs s, UNNEST(range(0, {_PSI_N_BUCKETS})) u(b)
),
sb AS (
  SELECT source, b, CAST(count(*) AS BIGINT) AS c
  FROM docs GROUP BY source, b
),
tb AS (
  SELECT b, CAST(count(*) AS BIGINT) AS c FROM docs GROUP BY b
),
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
         (CAST(g.ca AS HUGEINT) * t.nb - CAST(g.cb AS HUGEINT) * t.na)
           * CAST(round(round(ln((CAST(g.ca AS DOUBLE) * CAST(t.nb AS DOUBLE))
                          / (CAST(g.cb AS DOUBLE) * CAST(t.na AS DOUBLE))), 6)
                  * 1e6) AS HUGEINT) AS num,
         t.na, t.nb
  FROM grid g JOIN tots t USING (source)
)
SELECT source,
       CAST(any_value(na) AS BIGINT) AS n_a_smoothed,
       CAST(any_value(nb) AS BIGINT) AS n_b_smoothed,
       CAST(sum(num) // (any_value(na) * any_value(nb)) AS BIGINT)
         AS psi_micro
FROM terms GROUP BY source
"""


@query("psi1_population_stability", oracle=_PSI_SQL)
def psi1_population_stability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index of each source's document-length
    distribution against the rest of the corpus — THE model-risk /
    feature-drift metric of industry scorecard monitoring (standard
    thresholds: PSI < 0.1 stable, 0.1-0.25 watch, > 0.25 action;
    lineage to the Jeffreys J-divergence, Jeffreys 1946):
    PSI = sum_b (p_b - q_b) * ln(p_b / q_b) over the drift1 length
    grid, with Laplace +1 smoothing so empty buckets stay defined
    (the standard practice). Complements the drift family by being
    the number existing model-governance playbooks already have
    thresholds for: ks1 is a test, emd1 a distance, dq3 a chi-square
    — PSI is the POLICY metric.

    Exactness: each bucket term (p-q)*ln(p/q) is NON-NEGATIVE (both
    factors share sign), so the sum of exact integer products
    (ca*nb - cb*na) * ln_micro stays non-negative and exits as ONE
    final integral division by na*nb — the only floats are inside the
    micro-nat log pin (one IEEE ratio of exact integers, then the
    6dp-then-1e6 double-round; zipf1/surv1 precedent). The output is
    PSI in MICRO units (1e-6), an exact integer: the 1e6 factor comes
    solely from ln_micro — the (p-q) part is divided out exactly by
    the final na*nb division, contributing no extra scale factor. So
    the standard policy thresholds read psi_micro > 100000 (watch)
    and > 250000 (action).

    Scale shape: one corpus-sized (source, bucket) counting groupBy
    plus the corpus bucket totals; the grid is sources x 13 literal
    buckets; everything downstream is bounded by sources x buckets.
    No windows, no pairwise joins."""
    docs = (
        load(spark, sf_dir, "documents")
        .filter(F.col("source").isNotNull() & F.col("n_chars").isNotNull())
        .select(
            "source",
            F.least(
                F.floor(
                    F.col("n_chars").cast("double") / _PSI_BUCKET_W
                ).cast("long"),
                F.lit(_PSI_N_BUCKETS - 1).cast("long"),
            ).alias("b"),
        )
    )
    srcs = docs.select("source").distinct()
    buckets = srcs.crossJoin(
        F.broadcast(
            spark.range(_PSI_N_BUCKETS).select(
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
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    ln_micro = F.round(
        F.round(
            F.log(
                (F.col("ca").cast("double") * F.col("nb").cast("double"))
                / (F.col("cb").cast("double") * F.col("na").cast("double"))
            ),
            6,
        )
        * 1e6
    ).cast("decimal(38,0)")
    terms = grid.join(F.broadcast(tots), "source").select(
        "source",
        ((dec(F.col("ca")) * F.col("nb") - dec(F.col("cb")) * F.col("na"))
         * ln_micro).alias("num"),
        "na",
        "nb",
    )
    return terms.groupBy("source").agg(
        F.any_value(F.col("na")).cast("long").alias("n_a_smoothed"),
        F.any_value(F.col("nb")).cast("long").alias("n_b_smoothed"),
        F.expr(
            "CAST(sum(num) div (any_value(na) * any_value(nb)) AS BIGINT)"
        ).alias("psi_micro"),
    )


# --------------------------------------------------------------------------
# gini2 — Gini concentration of the corpus across sources (round 10)
# --------------------------------------------------------------------------

_GINI2_SQL = """
WITH src AS (
  SELECT source, CAST(count(*) AS HUGEINT) AS docs,
         CAST(coalesce(sum(n_chars), 0) AS HUGEINT) AS chars
  FROM documents WHERE source IS NOT NULL
  GROUP BY source
),
ranked AS (
  SELECT source, docs, chars,
         row_number() OVER (ORDER BY chars, source) AS i,
         count(*) OVER () AS n,
         sum(chars) OVER () AS tot
  FROM src
)
SELECT CAST(any_value(n) AS BIGINT) AS n_sources,
       CAST(any_value(tot) AS BIGINT) AS total_chars,
       CAST(sum((2 * i - n - 1) * chars) AS BIGINT) AS gini_num,
       CAST((1000000 * sum((2 * CAST(i AS HUGEINT) - n - 1) * chars))
            // NULLIF(CAST(any_value(n) AS HUGEINT) * any_value(tot), 0)
            AS BIGINT) AS gini_micro
FROM ranked
"""


@query("gini2_source_concentration", oracle=_GINI2_SQL)
def gini2_source_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of corpus-volume concentration across sources
    (the Lorenz-curve inequality measure, Gini 1912, in the standard
    sorted closed form G = sum_i (2i - n - 1) x_(i) / (n sum x)):
    0 = every source contributes equally, -> 1 = one source IS the
    corpus. The one-number summary a mixture designer reads before
    domcap1 (per-source caps) or mix1 (temperature flattening) — and
    the metric whose drift says a crawl started over-fetching one
    domain. Distinct from gini1, which measures label impurity of the
    LANGUAGE mix; this is volume inequality over sources.

    Exactness: the sorted form needs only an integer rank over the
    n_sources-row table (total order: chars, source); the numerator
    sum((2i - n - 1) * chars) is exact HUGEINT/DECIMAL(38,0) (it can
    never be negative: the rank ordering matches the weight ordering,
    the Chebyshev sum inequality), and Gini exits as ONE integral
    micro division by n * total. NULL for an empty corpus.

    Scale shape: one map-side-combinable (source) groupBy is the only
    corpus pass; the rank window runs over the bounded source table
    (the lr1/drm1 convention). One-row output."""
    src = (
        load(spark, sf_dir, "documents")
        .filter(F.col("source").isNotNull())
        .groupBy("source")
        .agg(
            F.count("*").cast("decimal(38,0)").alias("docs"),
            F.coalesce(F.sum("n_chars"), F.lit(0))
            .cast("decimal(38,0)")
            .alias("chars"),
        )
    )
    w = Window.orderBy("chars", "source")
    wall = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    ranked = src.select(
        F.col("chars"),
        F.row_number().over(w).cast("decimal(38,0)").alias("i"),
        F.count("*").over(wall).cast("decimal(38,0)").alias("n"),
        F.sum("chars").over(wall).cast("decimal(38,0)").alias("tot"),
    )
    return ranked.agg(
        F.any_value(F.col("n")).cast("long").alias("n_sources"),
        F.any_value(F.col("tot")).cast("long").alias("total_chars"),
        F.sum((2 * F.col("i") - F.col("n") - 1) * F.col("chars"))
        .cast("long")
        .alias("gini_num"),
        F.expr(
            "CAST((1000000 * sum((2 * i - n - 1) * chars))"
            " div nullif(any_value(n) * any_value(tot), 0) AS BIGINT)"
        ).alias("gini_micro"),
    )
