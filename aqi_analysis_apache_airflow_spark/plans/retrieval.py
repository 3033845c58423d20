"""Round-6 retrieval + corpus-operations operators: BM25 ranked
retrieval (ret1), deterministic corpus shuffle/sharding (shuf1), GDPR
cascade deletion audit (gdpr1), multi-format sink/source round-trip
proof (fmt1), bigram-LM predictability scoring (lm2), Misra–Gries
heavy hitters (mg1), k-anonymity audit (anon1), schema-evolution
source handling (sch1), hard-negative mining (hn1),
largest-remainder budget apportionment (lr1), rendezvous-hash shard
placement (place1), and rolling-hash content-defined chunking (rh1).

No reference counterpart (the reference is a 479-line pandas ETL —
``dags/etl/*.py``); these extend the training-data-pipeline surface
the 100 TB deployment needs. Design rules carried over from the
earlier families (see ``plans/curation.py``):

- Randomness / shuffling is the md5-derived cross-engine hash
  (``ce_hash64``) so every decision replays bit-exactly in DuckDB;
  production swaps in ``xxhash64`` with no other change.
- Sums of doubles route through DECIMAL (exact, order-independent);
  per-row double mul/div stays raw (IEEE-identical across engines);
  the one ``ln`` (BM25 idf) is rounded to 6dp on both sides — the
  established t4_tfidf mitigation for last-ulp libm divergence.
- Every plan is shuffle-minimal and documented for the 100 TB case.

Public sources: Robertson & Zaragoza 2009 (BM25); Misra & Gries 1982
and Agarwal et al. PODS 2012 (mergeable MG summaries); Thaler &
Ravishankar 1996 (rendezvous hashing); the shard/shuffle op is the
standard "hash-salt global shuffle" of LLM data loaders (e.g. GPT-3
App. B's deterministic document ordering); rolling-hash chunking per
Rabin–Karp / the LBFS content-defined-chunking scheme.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.dedup import CE_HASH64_SQL, ce_hash64, tokens
from ..functions.spread import spread_if_narrow
from .registry import load, load_spread, query, scratch_dir

# --------------------------------------------------------------------------
# ret1 — BM25 ranked retrieval
# --------------------------------------------------------------------------

_BM25_TERMS = ("table", "join", "window")
_BM25_K1 = 1.2
_BM25_B = 0.75
_BM25_TOPK = 20

_BM25_TERMS_SQL = ", ".join(f"'{t}'" for t in _BM25_TERMS)

#: shared BM25 CTE chain (ends in per-doc aggregate ``bm``) — reused by
#: rr1_rank_fusion's oracle (plans/selection.py)
_BM25_CTES = f"""dl AS (
  SELECT doc_id,
         CAST(len(regexp_extract_all(text, '\\S+')) AS BIGINT) AS dl
  FROM documents
),
stats AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(dl) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl
  FROM dl
),
tok AS (
  SELECT doc_id, t.tok
  FROM (SELECT doc_id, regexp_extract_all(text, '\\S+') AS l FROM documents),
       UNNEST(l) t(tok)
  WHERE t.tok IN ({_BM25_TERMS_SQL})
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
  SELECT tf.doc_id,
         round(
           round(ln((CAST(n AS DOUBLE) - CAST(df AS DOUBLE) + 0.5)
                    / (CAST(df AS DOUBLE) + 0.5) + 1.0), 6)
           * ((CAST(tf AS DOUBLE) * {_BM25_K1 + 1.0})
              / (CAST(tf AS DOUBLE)
                 + {_BM25_K1} * ({1.0 - _BM25_B}
                                 + {_BM25_B} * (CAST(dl.dl AS DOUBLE) / avgdl)))),
           6) AS s
  FROM tf
  JOIN dl ON dl.doc_id = tf.doc_id
  JOIN dfreq ON dfreq.tok = tf.tok
  CROSS JOIN stats
),
bm AS (
  SELECT doc_id,
         CAST(count(*) AS BIGINT) AS n_terms_hit,
         CAST(sum(CAST(s AS DECIMAL(28,6))) AS DOUBLE) AS score
  FROM scored
  GROUP BY doc_id
)"""

_RET1_SQL = f"""
WITH {_BM25_CTES}
SELECT doc_id, n_terms_hit, score
FROM bm
ORDER BY score DESC, doc_id
LIMIT {_BM25_TOPK}
"""


@query("ret1_bm25_topk", oracle=_RET1_SQL)
def ret1_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-k retrieval (Robertson–Zaragoza 2009, k1=1.2, b=0.75)
    for a fixed term set over whitespace tokens — the classic ranked
    retrieval an LLM-data pipeline uses for query-targeted corpus
    slicing and RAG candidate generation.

    Scale shape: the token stream is filtered to the query terms
    BEFORE any shuffle (predicate on the exploded token — at 100 TB
    the tf/df aggregations see only matching postings, a tiny
    fraction of the corpus); tf and df share that filtered stream's
    shuffle key; N and avgdl fold in as a 1-row broadcast aggregate
    (never a driver-side count during planning); the df table is
    |query terms| rows → broadcast. The final top-k is a global
    ORDER BY + LIMIT, which Spark executes as per-partition top-k +
    single-reduce (TakeOrderedAndProject), not a full sort.

    Determinism: idf's ``ln`` is rounded to 6dp on both engines (the
    t4_tfidf convention); per-term scores are rounded to 6dp then
    summed as DECIMAL (order-independent), surfaced as DOUBLE."""
    return (
        bm25_doc_scores(spark, sf_dir)
        .orderBy(F.col("score").desc(), "doc_id")
        .limit(_BM25_TOPK)
    )


def bm25_term_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(doc, term) BM25 posting scores for the fixed
    ``_BM25_TERMS`` query — the shared scorer underneath ret1's
    top-k, rr1's lexical ranker (``plans/selection.py``) and wand1's
    max-score pruning audit (``plans/analysis.py``). Returns
    (doc_id, tok, s) with s the 6dp-rounded per-term score; see
    :func:`ret1_bm25_topk` for the scale shape and determinism
    notes."""
    docs = load(spark, sf_dir, "documents")
    dl = docs.select(
        "doc_id", F.size(tokens(F.col("text"))).cast("long").alias("dl")
    )
    stats = dl.agg(
        F.count("*").alias("n"),
        (
            F.sum("dl").cast("double") / F.count("*").cast("double")
        ).alias("avgdl"),
    )
    tok = docs.select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("tok")
    ).filter(F.col("tok").isin(*_BM25_TERMS))
    tf = tok.groupBy("doc_id", "tok").agg(F.count("*").alias("tf"))
    dfreq = tok.groupBy("tok").agg(F.countDistinct("doc_id").alias("df"))
    idf6 = F.round(
        F.log(
            (F.col("n").cast("double") - F.col("df").cast("double") + 0.5)
            / (F.col("df").cast("double") + 0.5)
            + 1.0
        ),
        6,
    )
    denom = F.col("tf").cast("double") + F.lit(_BM25_K1) * (
        F.lit(1.0 - _BM25_B)
        + F.lit(_BM25_B) * (F.col("dl").cast("double") / F.col("avgdl"))
    )
    s = F.round(idf6 * ((F.col("tf").cast("double") * (_BM25_K1 + 1.0)) / denom), 6)
    scored = (
        tf.join(dl, "doc_id")
        .join(F.broadcast(dfreq), "tok")
        .join(F.broadcast(stats))
        .select("doc_id", "tok", s.alias("s"))
    )
    return scored


def bm25_doc_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document BM25 total for the fixed ``_BM25_TERMS`` query —
    ret1's and rr1's scorer, rolled up from the shared per-term
    posting scores (:func:`bm25_term_scores`, which wand1's pruning
    audit also reads)."""
    scored = bm25_term_scores(spark, sf_dir)
    return scored.groupBy("doc_id").agg(
        F.count("*").alias("n_terms_hit"),
        F.sum(F.col("s").cast("decimal(28,6)")).cast("double").alias("score"),
    )


# --------------------------------------------------------------------------
# shuf1 — deterministic global shuffle + shard assignment
# --------------------------------------------------------------------------

_N_SHARDS = 8

_SHUF_CE = CE_HASH64_SQL.format(h="md5('shuf|'||CAST(doc_id AS VARCHAR))")

_SHUF1_SQL = f"""
WITH keyed AS (
  SELECT doc_id, {_SHUF_CE} AS k FROM documents
)
SELECT doc_id,
       ((k % {_N_SHARDS}) + {_N_SHARDS}) % {_N_SHARDS} AS shard,
       CAST(row_number() OVER (
              PARTITION BY ((k % {_N_SHARDS}) + {_N_SHARDS}) % {_N_SHARDS}
              ORDER BY k, doc_id) AS INTEGER) AS pos
FROM keyed
"""


@query("shuf1_deterministic_shard", oracle=_SHUF1_SQL)
def shuf1_deterministic_shard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global corpus shuffle + shard assignment — the
    epoch-ordering primitive of every LLM data loader: each document
    gets a pseudorandom sort key from a seeded hash, a shard from the
    key's residue, and a position within its shard. Replayable
    bit-exactly from the key alone (resume-safe training), with no
    RNG state anywhere.

    Scale shape: one hash per row, ONE shuffle (hash-partition on
    shard), per-shard ordering — in production this is literally
    ``repartition(N, shard).sortWithinPartitions(k)`` writing one
    file per shard; the row_number form here surfaces the positions
    so the oracle can verify the full permutation. Shards are
    hash-balanced so no shard skews past ~corpus/N."""
    docs = load(spark, sf_dir, "documents")
    k = ce_hash64(F.concat(F.lit("shuf|"), F.col("doc_id").cast("string")))
    keyed = docs.select("doc_id", k.alias("k"))
    shard = F.pmod(F.col("k"), F.lit(_N_SHARDS))
    w = Window.partitionBy(shard).orderBy("k", "doc_id")
    return keyed.select(
        "doc_id",
        shard.alias("shard"),
        F.row_number().over(w).alias("pos"),
    )


# --------------------------------------------------------------------------
# gdpr1 — cascade deletion audit (right-to-erasure)
# --------------------------------------------------------------------------

_GDPR1_SQL = """
WITH del_cust AS (
  SELECT c_custkey FROM customer WHERE c_custkey % 97 = 0
),
purged_orders AS (
  SELECT o_orderkey FROM orders
  WHERE o_custkey IN (SELECT c_custkey FROM del_cust)
),
purged_line AS (
  SELECT l_orderkey, l_linenumber FROM lineitem
  WHERE l_orderkey IN (SELECT o_orderkey FROM purged_orders)
),
c AS (
  SELECT 'customer' AS table_name,
         CAST((SELECT count(*) FROM customer) AS BIGINT) AS rows_before,
         CAST(count(*) AS BIGINT) AS rows_purged,
         CAST(COALESCE(sum((({c_ce}) % 1000000000 + 1000000000)
                           % 1000000000), 0) AS BIGINT) AS purged_key_sum
  FROM del_cust
),
o AS (
  SELECT 'orders' AS table_name,
         CAST((SELECT count(*) FROM orders) AS BIGINT) AS rows_before,
         CAST(count(*) AS BIGINT) AS rows_purged,
         CAST(COALESCE(sum((({o_ce}) % 1000000000 + 1000000000)
                           % 1000000000), 0) AS BIGINT) AS purged_key_sum
  FROM purged_orders
),
l AS (
  SELECT 'lineitem' AS table_name,
         CAST((SELECT count(*) FROM lineitem) AS BIGINT) AS rows_before,
         CAST(count(*) AS BIGINT) AS rows_purged,
         CAST(COALESCE(sum((({l_ce}) % 1000000000 + 1000000000)
                           % 1000000000), 0) AS BIGINT) AS purged_key_sum
  FROM purged_line
)
SELECT table_name, rows_before, rows_purged,
       rows_before - rows_purged AS rows_after, purged_key_sum
FROM (SELECT * FROM c UNION ALL SELECT * FROM o UNION ALL SELECT * FROM l) u
""".format(
    c_ce=CE_HASH64_SQL.format(h="md5('gdpr|'||CAST(c_custkey AS VARCHAR))"),
    o_ce=CE_HASH64_SQL.format(h="md5('gdpr|'||CAST(o_orderkey AS VARCHAR))"),
    l_ce=CE_HASH64_SQL.format(
        h="md5('gdpr|'||CAST(l_orderkey AS VARCHAR)||'-'"
        "||CAST(l_linenumber AS VARCHAR))"
    ),
)


def _purge_audit(df: DataFrame, name: str, key_str) -> DataFrame:
    """1-row audit aggregate: (table_name, rows_purged, purged_key_sum).
    Hashes fold mod 1e9 before the SUM (the dq4 convention) so a
    10^12-row purge manifest still sums inside BIGINT."""
    h = F.pmod(ce_hash64(F.concat(F.lit("gdpr|"), key_str)), F.lit(1_000_000_000))
    return df.agg(
        F.lit(name).alias("table_name"),
        F.count("*").alias("rows_purged"),
        F.coalesce(F.sum(h), F.lit(0)).cast("long").alias("purged_key_sum"),
    )


@query("gdpr1_cascade_delete", oracle=_GDPR1_SQL)
def gdpr1_cascade_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-erasure cascade audit: a deletion request set
    (customers) propagates through its foreign-key fan-out
    (orders → lineitem); the result is the per-table purge manifest —
    rows before, rows purged, rows after, and an order-independent
    checksum over the purged keys (per-key hashes folded mod 1e9 into
    a BIGINT sum, the dq4 convention — the audit artifact a
    compliance pipeline persists before executing the physical
    delete).

    Scale shape: the deletion set is a small fraction of one
    dimension (here 1/97 of customers) — each cascade level is a
    LEFT SEMI join against the previous level's keys, which Spark
    broadcasts while the set is small and shuffles only when it
    outgrows the threshold (AQE decides; no hint pinned, because a
    mass-erasure event can make the set large). Nothing but the key
    columns moves: the semi-joins read one column per table and the
    audit rows are 1-row aggregates unioned at the end. The physical
    delete itself is the j6/st6 MERGE machinery; this op is the
    planning+audit half."""
    customer = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    lineitem = load(spark, sf_dir, "lineitem")

    del_cust = customer.filter(F.col("c_custkey") % 97 == 0).select("c_custkey")
    purged_orders = orders.join(
        del_cust, orders["o_custkey"] == del_cust["c_custkey"], "left_semi"
    ).select("o_orderkey")
    purged_line = lineitem.join(
        purged_orders,
        lineitem["l_orderkey"] == purged_orders["o_orderkey"],
        "left_semi",
    ).select("l_orderkey", "l_linenumber")

    audits = (
        _purge_audit(del_cust, "customer", F.col("c_custkey").cast("string"))
        .unionAll(
            _purge_audit(
                purged_orders, "orders", F.col("o_orderkey").cast("string")
            )
        )
        .unionAll(
            _purge_audit(
                purged_line,
                "lineitem",
                F.concat(
                    F.col("l_orderkey").cast("string"),
                    F.lit("-"),
                    F.col("l_linenumber").cast("string"),
                ),
            )
        )
    )
    before = (
        customer.agg(F.lit("customer").alias("table_name"), F.count("*").alias("rows_before"))
        .unionAll(
            orders.agg(F.lit("orders").alias("table_name"), F.count("*").alias("rows_before"))
        )
        .unionAll(
            lineitem.agg(
                F.lit("lineitem").alias("table_name"), F.count("*").alias("rows_before")
            )
        )
    )
    return before.join(audits, "table_name").select(
        "table_name",
        "rows_before",
        "rows_purged",
        (F.col("rows_before") - F.col("rows_purged")).alias("rows_after"),
        "purged_key_sum",
    )


# --------------------------------------------------------------------------
# fmt1 — multi-format sink/source round-trip proof (ORC, JSON, CSV)
# --------------------------------------------------------------------------

_FMT_DOC_CE = CE_HASH64_SQL.format(
    h="md5('doc|'||CAST(doc_id AS VARCHAR)||'|'||text||'|'||lang"
    "||'|'||source||'|'||CAST(n_chars AS VARCHAR))"
)
_FMT_LI_CE = CE_HASH64_SQL.format(
    h="md5('li|'||CAST(l_orderkey AS VARCHAR)||'|'"
    "||CAST(l_linenumber AS VARCHAR))"
)

_FMT1_SQL = f"""
WITH doc_side AS (
  SELECT CAST(count(*) AS BIGINT) AS n_rows,
         CAST(sum((({_FMT_DOC_CE}) % 1000000000 + 1000000000) % 1000000000)
              AS BIGINT) AS content_hash_sum,
         CAST(CAST(sum(CAST(n_chars AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS DOUBLE)
           AS val_sum
  FROM documents
),
li_side AS (
  SELECT CAST(count(*) AS BIGINT) AS n_rows,
         CAST(sum((({_FMT_LI_CE}) % 1000000000 + 1000000000) % 1000000000)
              AS BIGINT) AS content_hash_sum,
         CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DECIMAL(38,2))
              AS DOUBLE) AS val_sum
  FROM lineitem WHERE l_orderkey % 10 = 0
)
SELECT 'orc' AS fmt, n_rows, content_hash_sum, val_sum FROM doc_side
UNION ALL
SELECT 'json' AS fmt, n_rows, content_hash_sum, val_sum FROM doc_side
UNION ALL
SELECT 'csv' AS fmt, n_rows, content_hash_sum, val_sum FROM li_side
"""


def _doc_audit(df: DataFrame, fmt: str) -> DataFrame:
    h = F.pmod(
        ce_hash64(
            F.concat(
                F.lit("doc|"),
                F.col("doc_id").cast("string"),
                F.lit("|"),
                F.col("text"),
                F.lit("|"),
                F.col("lang"),
                F.lit("|"),
                F.col("source"),
                F.lit("|"),
                F.col("n_chars").cast("string"),
            )
        ),
        F.lit(1_000_000_000),
    )
    return df.agg(
        F.lit(fmt).alias("fmt"),
        F.count("*").alias("n_rows"),
        F.sum(h).cast("long").alias("content_hash_sum"),
        F.sum(F.col("n_chars").cast("decimal(18,2)"))
        .cast("decimal(38,2)")
        .cast("double")
        .alias("val_sum"),
    )


@query("fmt1_multiformat_roundtrip", oracle=_FMT1_SQL)
def fmt1_multiformat_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sink/source breadth proof: write the documents table to ORC and
    JSON-lines and a lineitem slice to headered CSV, read each back
    with an explicit schema, and emit per-format (row count, an
    order-independent mod-1e9 BIGINT sum of per-row content hashes —
    the dq4 convention — and an exact DECIMAL value sum).
    The oracle computes the same three audits from the PARQUET
    originals — equality is an external proof that every format
    round-trips losslessly: the content hash covers ids + full text +
    categorical columns, and the CSV value sum proves doubles survive
    the text encoding bit-exactly (Spark writes shortest-round-trip
    decimal strings). The three copies are written once per session
    and input, to a :func:`.registry.scratch_dir` keyed to the two
    source files, and last as long as the Spark session.

    Scale shape: writes are partitioned (whatever parallelism the
    upstream had), reads are splittable scans; the audits are 1-row
    aggregates with map-side combine. At 100 TB this op is the
    format-migration validator you run AFTER a bulk
    parquet→ORC/JSONL conversion and BEFORE dropping the originals;
    per-partition hash sums commute, so the audit never needs a
    global sort."""
    docs = load(spark, sf_dir, "documents")
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") % 10 == 0)

    li_cols = [
        "l_orderkey",
        "l_linenumber",
        "l_quantity",
        "l_extendedprice",
    ]

    def write(base: str) -> None:
        docs.write.orc(os.path.join(base, "documents_orc"))
        docs.write.json(os.path.join(base, "documents_json"))
        li.select(*li_cols).write.option("header", True).csv(
            os.path.join(base, "lineitem_csv")
        )

    base = scratch_dir("fmt1_", sf_dir, ["documents", "lineitem"], write)
    orc_path = os.path.join(base, "documents_orc")
    json_path = os.path.join(base, "documents_json")
    csv_path = os.path.join(base, "lineitem_csv")

    doc_schema = (
        "doc_id bigint, text string, lang string, source string, n_chars bigint"
    )
    li_schema = (
        "l_orderkey bigint, l_linenumber int, l_quantity double, "
        "l_extendedprice double"
    )
    orc_back = spark.read.schema(doc_schema).orc(orc_path)
    json_back = spark.read.schema(doc_schema).json(json_path)
    csv_back = (
        spark.read.schema(li_schema).option("header", True).csv(csv_path)
    )

    li_ce = F.pmod(
        ce_hash64(
            F.concat(
                F.lit("li|"),
                F.col("l_orderkey").cast("string"),
                F.lit("|"),
                F.col("l_linenumber").cast("string"),
            )
        ),
        F.lit(1_000_000_000),
    )
    csv_audit = csv_back.agg(
        F.lit("csv").alias("fmt"),
        F.count("*").alias("n_rows"),
        F.sum(li_ce).cast("long").alias("content_hash_sum"),
        F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
        .cast("decimal(38,2)")
        .cast("double")
        .alias("val_sum"),
    )
    return (
        _doc_audit(orc_back, "orc")
        .unionAll(_doc_audit(json_back, "json"))
        .unionAll(csv_audit)
    )


# --------------------------------------------------------------------------
# lm2 — bigram-LM predictability scoring
# --------------------------------------------------------------------------

_LM2_SQL = """
WITH big AS (
  SELECT doc_id, l[i] AS w1, l[i+1] AS w2
  FROM (SELECT doc_id, regexp_extract_all(text, '\\S+') AS l FROM documents),
       UNNEST(range(1, len(l))) u(i)
),
c12 AS (
  SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12 FROM big GROUP BY w1, w2
),
c1 AS (
  SELECT w1, CAST(count(*) AS BIGINT) AS c1 FROM big GROUP BY w1
),
p AS (
  SELECT big.doc_id,
         round(CAST(c12 AS DOUBLE) / CAST(c1 AS DOUBLE), 6) AS p6
  FROM big JOIN c12 USING (w1, w2) JOIN c1 USING (w1)
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_bigrams,
       CAST(sum(CAST(p6 AS DECIMAL(18,6))) AS DOUBLE)
         / CAST(count(*) AS DOUBLE) AS mean_p
FROM p GROUP BY doc_id
"""


@query("lm2_bigram_predictability", oracle=_LM2_SQL)
def lm2_bigram_predictability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram language-model predictability per document: train
    maximum-likelihood bigram probabilities P(w2|w1) = c(w1,w2)/c(w1·)
    on the corpus itself, then score each document by the mean
    probability of its bigrams — the cheap KenLM-style fluency filter
    LLM pipelines use to rank text quality (low mean ⇒ unusual word
    transitions ⇒ likely boilerplate/garbled text), without any libm
    perplexity (the rational mean-probability is the monotone
    cross-engine-exact stand-in for mean log-prob, per the
    curation-family convention).

    Scale shape: ONE bigram explode feeds both count aggregations
    (map-side combined on their group keys) and the scoring join; the
    c12/c1 model tables are vocabulary-sized — tiny next to the
    corpus — so AQE broadcasts them (no hint pinned: a web-scale
    vocabulary can outgrow broadcast, and then both sides are already
    hash-partitioned on the token key). Per-doc means route the
    rounded probabilities through DECIMAL so partial-aggregation
    order never changes a bit."""
    docs = load(spark, sf_dir, "documents")
    t = tokens(F.col("text"))
    n = F.size(t)
    length = F.greatest(n - 1, F.lit(0))
    pairs = F.arrays_zip(
        F.slice(t, 1, length).alias("w1"), F.slice(t, 2, length).alias("w2")
    )
    # NOT persisted (r14 A/B,
    # git show 555704a:tools/ab_r14_pin{,2,3}.json: 0.90/1.01/1.02 —
    # no consistent win): c12, c1 and the scoring join DO re-run this
    # explode (three differently-keyed consumers, no reusable
    # Exchange), but the explode is cheap enough that materializing
    # the token-sized intermediate returns only what it costs.
    big = docs.select(
        "doc_id", F.explode(pairs).alias("bg")
    ).select("doc_id", F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
    c12 = big.groupBy("w1", "w2").agg(F.count("*").alias("c12"))
    c1 = big.groupBy("w1").agg(F.count("*").alias("c1"))
    p6 = F.round(
        F.col("c12").cast("double") / F.col("c1").cast("double"), 6
    )
    p = (
        big.join(c12, ["w1", "w2"])
        .join(c1, ["w1"])
        .select("doc_id", p6.alias("p6"))
    )
    return p.groupBy("doc_id").agg(
        F.count("*").alias("n_bigrams"),
        (
            F.sum(F.col("p6").cast("decimal(18,6)")).cast("double")
            / F.count("*").cast("double")
        ).alias("mean_p"),
    )


# --------------------------------------------------------------------------
# mg1 — Misra–Gries heavy hitters (mergeable mapInPandas sketch)
# --------------------------------------------------------------------------

_MG_CAPACITY = 128
# φ = 1/100; all thresholds stay in INTEGER arithmetic (×100) so no
# float boundary can flip a guarantee boolean between engines.
_MG_PHI_DEN = 100

_MG_KEY_SQL = (
    "CASE WHEN l_orderkey % 2 = 0 THEN 'hot' "
    "ELSE 'cold_' || CAST(l_partkey % 997 AS VARCHAR) END"
)

_MG1_SQL = f"""
WITH keyed AS (SELECT {_MG_KEY_SQL} AS k FROM lineitem),
exact AS (SELECT k, CAST(count(*) AS BIGINT) AS true_count FROM keyed GROUP BY k),
total AS (SELECT CAST(sum(true_count) AS BIGINT) AS n_total FROM exact)
SELECT k, true_count,
       TRUE AS sketch_found, TRUE AS bound_ok
FROM exact CROSS JOIN total
WHERE true_count * {_MG_PHI_DEN} >= n_total
"""


@query("mg1_misra_gries_hh", oracle=_MG1_SQL)
def mg1_misra_gries_hh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Misra–Gries heavy hitters (φ = 1/100) over a deliberately
    skewed derived key (one 'hot' key at ~50% + ~1000 cold keys), the
    mergeable-sketch counterpart to count-min (cm1): per-partition
    MG(128) summaries from an Arrow-batched ``mapInPandas`` stage
    (:mod:`...functions.sketch`), merged by a plain
    ``groupBy(k).sum`` — the whole distributed sketch is ONE Python
    stage plus one narrow shuffle of ≤ partitions × (capacity+1)
    rows, which is the entire point at 100 TB: the corpus never
    shuffles, only the summaries do.

    Self-verifying oracle (the d3/sim_ivf pattern): rows are the
    EXACT heavy hitters (the in-query exact groupBy is the
    verification baseline, the work a production run would not do),
    and the booleans assert the sketch's mergeability guarantees —
    ``sketch_found`` (every true φ-heavy key survives the candidate
    cut ``100·est + 100·err ≥ N``, which Agarwal et al. 2012 Thm. 1
    proves can never fail) and ``bound_ok``
    (``est ≤ true ≤ est + err``). All guarantee arithmetic is
    integer-exact — no float threshold can flip a boolean at the
    boundary. The merged summary table is persisted so the candidate
    cut and its error bound come from the SAME sketch run (the
    per-run estimates are partitioning-dependent; the booleans hold
    for every run)."""
    from ..functions.sketch import mg_partition_summaries

    li = load(spark, sf_dir, "lineitem")
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
    key = F.when(F.col("l_orderkey") % 2 == 0, F.lit("hot")).otherwise(
        F.concat(F.lit("cold_"), (F.col("l_partkey") % 997).cast("string"))
    )
    # UNCONDITIONAL repartition kept on purpose (not spread_if_narrow,
    # r13): the per-PARTITION Misra-Gries summaries are the query
    # definition — the partition layout is semantic here, not a
    # parallelism knob.
    keyed = li.select(key.alias("k")).repartition(n_part)

    summ = mg_partition_summaries(keyed, _MG_CAPACITY)
    glob = summ.groupBy("k").agg(F.sum("est").alias("est")).persist()
    err = glob.filter(F.col("k").isNull()).select(
        F.coalesce(F.sum("est"), F.lit(0)).alias("err_total")
    )
    # exact baseline straight off the scan (no repartition: groupBy
    # brings its own exchange and the round-robin spread is only for
    # the Python sketch stage) — this is the verification work a
    # production run would not do
    exact = li.select(key.alias("k")).groupBy("k").agg(
        F.count("*").alias("true_count")
    )
    total = exact.agg(F.sum("true_count").alias("n_total"))

    cand = (
        glob.filter(F.col("k").isNotNull())
        .join(F.broadcast(err))
        .join(F.broadcast(total))
        .filter(
            F.col("est") * _MG_PHI_DEN + F.col("err_total") * _MG_PHI_DEN
            >= F.col("n_total")
        )
        .select("k", "est")
    )

    return (
        exact.join(F.broadcast(total))
        .filter(F.col("true_count") * _MG_PHI_DEN >= F.col("n_total"))
        .join(cand, "k", "left")
        .join(F.broadcast(err))
        .select(
            "k",
            "true_count",
            F.col("est").isNotNull().alias("sketch_found"),
            (
                (F.col("est") <= F.col("true_count"))
                & (F.col("true_count") <= F.col("est") + F.col("err_total"))
            ).alias("bound_ok"),
        )
    )


# --------------------------------------------------------------------------
# anon1 — k-anonymity audit
# --------------------------------------------------------------------------

_ANON_K = 5

_ANON1_SQL = f"""
SELECT c_nationkey,
       c_mktsegment,
       CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_band,
       CAST(count(*) AS BIGINT) AS class_size,
       count(*) < {_ANON_K} AS suppress
FROM customer
GROUP BY 1, 2, 3
"""


@query("anon1_k_anonymity", oracle=_ANON1_SQL)
def anon1_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit over quasi-identifiers (nation, market
    segment, account-balance band): every equivalence class with
    fewer than k members is flagged for suppression — the privacy
    gate a training-data pipeline runs before releasing
    user-attributable records, and the planning half of the gdpr1
    erasure machinery.

    Scale shape: one groupBy on the QI tuple (map-side combined);
    the banding is a per-row floor, no join anywhere. The flagged
    classes then drive either suppression (anti-join on the QI
    tuple) or coarser generalization (re-band and re-audit) —
    both reuse this exact plan."""
    c = load(spark, sf_dir, "customer")
    return c.groupBy(
        "c_nationkey",
        "c_mktsegment",
        F.floor(F.col("c_acctbal") / 1000).alias("bal_band"),
    ).agg(
        F.count("*").alias("class_size"),
        (F.count("*") < _ANON_K).alias("suppress"),
    )


# --------------------------------------------------------------------------
# sch1 — schema-evolution source handling (mergeSchema)
# --------------------------------------------------------------------------

_SCH1_CE = CE_HASH64_SQL.format(h="md5('sch|'||CAST(o_orderkey AS VARCHAR))")

_SCH1_SQL = f"""
SELECT (o_orderkey % 2) = 1 AS has_priority,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum((({_SCH1_CE}) % 1000000000 + 1000000000) % 1000000000)
            AS BIGINT) AS key_checksum,
       CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(38,2))
            AS DOUBLE) AS total_sum,
       CAST(count(DISTINCT CASE WHEN o_orderkey % 2 = 1
                                THEN o_orderpriority END) AS BIGINT)
         AS n_priorities
FROM orders
GROUP BY 1
"""


@query("sch1_schema_evolution", oracle=_SCH1_SQL)
def sch1_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution source handling: two parquet batches of the
    same table written with DIFFERENT schemas (batch 1 lacks the
    later-added ``o_orderpriority`` column), read back as ONE dataset
    with ``mergeSchema`` — old rows surface the new column as NULL,
    which is exactly how a long-lived warehouse table accretes
    columns. The audit groups by column presence and checksums both
    cohorts; the oracle replays the split from the original table, so
    equality proves no row was dropped, duplicated, or mis-defaulted
    by the merge. Both batches are written once per session and orders
    file, to a :func:`.registry.scratch_dir` keyed to that file, and
    last as long as the Spark session.

    Scale shape: ``mergeSchema`` reconciles footers only (no data
    read) — at 100 TB you pin the merged schema from the catalog
    instead of inferring it over a million footers, but the NULL-fill
    read path this op proves is identical. The audit itself is one
    map-side-combined groupBy over a two-column projection."""
    orders = load(spark, sf_dir, "orders")
    v1 = orders.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    v2 = orders.filter(F.col("o_orderkey") % 2 == 1).select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority"
    )

    def write(base: str) -> None:
        v1.write.parquet(os.path.join(base, "batch=1"))
        v2.write.parquet(os.path.join(base, "batch=2"))

    base = scratch_dir("sch1_", sf_dir, ["orders"], write)

    merged = spark.read.option("mergeSchema", True).parquet(
        os.path.join(base, "batch=1"), os.path.join(base, "batch=2")
    )
    h = F.pmod(
        ce_hash64(F.concat(F.lit("sch|"), F.col("o_orderkey").cast("string"))),
        F.lit(1_000_000_000),
    )
    return merged.groupBy(
        F.col("o_orderpriority").isNotNull().alias("has_priority")
    ).agg(
        F.count("*").alias("n_rows"),
        F.sum(h).cast("long").alias("key_checksum"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("decimal(38,2)")
        .cast("double")
        .alias("total_sum"),
        F.countDistinct("o_orderpriority").alias("n_priorities"),
    )


# --------------------------------------------------------------------------
# hn1 — hard-negative mining over embeddings
# --------------------------------------------------------------------------

_HN_TOPK = 3

_HN1_SQL = f"""
WITH norms AS (
  SELECT vec_id, embedding, label,
         sqrt(CAST((SELECT SUM(CAST(CAST(u.x AS DOUBLE) * CAST(u.x AS DOUBLE)
                                   AS DECIMAL(28,14)))
                    FROM UNNEST(embedding) u(x)) AS DOUBLE)) AS nrm
  FROM embeddings
),
anchors AS (
  SELECT vec_id AS aid, embedding AS av, label AS alabel, nrm AS anrm
  FROM norms WHERE vec_id % 199 = 0 AND nrm > 0
),
pairs AS (
  SELECT a.aid, e.vec_id AS vid, e.nrm, a.anrm,
         unnest(e.embedding) AS x, unnest(a.av) AS y
  FROM norms e, anchors a
  WHERE e.vec_id <> a.aid AND e.label <> a.alabel AND e.nrm > 0
),
dots AS (
  SELECT aid, vid, any_value(nrm) AS nrm, any_value(anrm) AS anrm,
         SUM(CAST(CAST(x AS DOUBLE) * CAST(y AS DOUBLE) AS DECIMAL(28,14))) AS dot
  FROM pairs GROUP BY aid, vid
),
scored AS (
  SELECT aid, vid,
         round(CAST(dot AS DOUBLE) / (nrm * anrm), 6) AS cos
  FROM dots
)
SELECT aid AS anchor_id, vid AS negative_id, cos AS cosine_sim,
       CAST(rnk AS INTEGER) AS rank
FROM (
  SELECT aid, vid, cos,
         row_number() OVER (PARTITION BY aid ORDER BY cos DESC, vid) AS rnk
  FROM scored
) t
WHERE rnk <= {_HN_TOPK}
"""


@query("hn1_hard_negatives", oracle=_HN1_SQL)
def hn1_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining: for each anchor embedding (a hash-thin
    ~0.5% slice), the top-k most-similar vectors with a DIFFERENT label —
    the contrastive-training data op (the negatives that look most
    like the anchor are the ones worth training against).

    Scale shape: anchors are a hash-thin slice → broadcast; scoring is
    one projection over the corpus scan (corpus × |anchors| fan-out,
    each row a decimal-exact cosine — the knn1 shape), and the
    per-anchor top-k is a window over rows already reduced to (ids,
    score). At real corpus sizes the exact scan becomes the IVF probe
    (sim_ivf/sim_ivfd) feeding this same label-mismatch top-k — the
    final operator is unchanged, only the candidate generator
    tightens. Zero-norm vectors are excluded on both sides (cosine
    returns NULL for them; the oracle's na/nb > 0 guard is the same
    rule)."""
    from pyspark.sql.window import Window as W

    from ..functions.similarity import dot_decimal

    emb = load(spark, sf_dir, "embeddings")
    # norms hoisted: sqrt(decimal self-dot) ONCE per vector (the
    # sim_ivfm pattern) instead of twice per (anchor, candidate) pair
    # — identical expression, identical bits, 1/3 the decimal folds;
    # zero-norm vectors drop here, the same na/nb > 0 rule as the
    # oracle (cosine of a zero vector has no direction)
    nrm = F.sqrt(
        dot_decimal(F.col("embedding"), F.col("embedding")).cast("double")
    )
    # spread the corpus before the CPU-heavy per-pair fold: the bench
    # parquet is one row group (the sim_ivfm lesson; size-conditional
    # since r13 — at scale the natural splits suffice)
    norms = (
        spread_if_narrow(emb)
        .select("vec_id", "embedding", "label", nrm.alias("nrm"))
        .filter(F.col("nrm") > 0)
    )
    anchors = norms.filter(F.col("vec_id") % 199 == 0).select(
        F.col("vec_id").alias("anchor_id"),
        F.col("embedding").alias("av"),
        F.col("label").alias("alabel"),
        F.col("nrm").alias("anrm"),
    )
    cand = norms.join(F.broadcast(anchors)).filter(
        (F.col("vec_id") != F.col("anchor_id"))
        & (F.col("label") != F.col("alabel"))
    )
    scored = cand.select(
        "anchor_id",
        F.col("vec_id").alias("negative_id"),
        F.round(
            dot_decimal(F.col("embedding"), F.col("av")).cast("double")
            / (F.col("nrm") * F.col("anrm")),
            6,
        ).alias("cosine_sim"),
    )
    w = W.partitionBy("anchor_id").orderBy(
        F.col("cosine_sim").desc(), "negative_id"
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _HN_TOPK)
        .select("anchor_id", "negative_id", "cosine_sim", "rank")
    )


# --------------------------------------------------------------------------
# lr1 — largest-remainder token-budget apportionment
# --------------------------------------------------------------------------

_LR_BUDGET = 1_000_000

_LR1_SQL = f"""
WITH w AS (
  SELECT source,
         CAST(sum(len(regexp_extract_all(text, '\\S+'))) AS BIGINT) AS tokens
  FROM documents GROUP BY source
),
tot AS (SELECT CAST(sum(tokens) AS BIGINT) AS total FROM w),
q AS (
  SELECT source, tokens,
         CAST((CAST({_LR_BUDGET} AS HUGEINT) * tokens) // total
              AS BIGINT) AS quota,
         CAST((CAST({_LR_BUDGET} AS HUGEINT) * tokens) % total
              AS BIGINT) AS rem
  FROM w CROSS JOIN tot
),
lv AS (
  SELECT CAST({_LR_BUDGET} - sum(quota) AS BIGINT) AS leftover FROM q
),
r AS (
  SELECT source, tokens, quota, rem,
         CAST(row_number() OVER (ORDER BY rem DESC, source) AS BIGINT) AS rk
  FROM q
)
SELECT source, tokens, quota,
       rk <= leftover AS gets_extra,
       quota + CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS final_alloc
FROM r CROSS JOIN lv
"""


@query("lr1_budget_apportionment", oracle=_LR1_SQL)
def lr1_budget_apportionment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Largest-remainder (Hamilton) apportionment of a fixed token
    budget across sources, proportional to each source's token mass —
    the integer-exact allocation step of dataset mixing: ``floor``
    quotas always UNDERSHOOT the budget by < n_sources tokens, and
    naive per-source rounding can land the total anywhere within
    ±n_sources/2; largest-remainder hands the leftover units to the
    sources with the biggest truncated remainders, so the allocations
    sum to the budget EXACTLY (what a token-budgeted sampler needs
    before it draws a single document — see mix1 for the rate shape,
    ups1 for the epoch shape).

    Determinism: quotas and remainders are DECIMAL(38,0) integer
    arithmetic (budget × tokens can pass 2^63 at web-corpus counts),
    and the leftover ranking tiebreaks on source — no float anywhere.

    Scale shape: one token-count aggregation over the corpus
    (map-side combined), then all allocation math runs on the
    n_sources-row weight table — a broadcast-sized relation however
    large the corpus; the single window orders n_sources rows, not
    documents."""
    docs = load(spark, sf_dir, "documents")
    w = docs.groupBy("source").agg(
        F.sum(F.size(tokens(F.col("text"))).cast("long")).alias("tokens")
    )
    tot = w.agg(F.sum("tokens").alias("total"))
    prod = F.lit(_LR_BUDGET).cast("decimal(38,0)") * F.col("tokens").cast(
        "decimal(38,0)"
    )
    q = w.join(F.broadcast(tot)).select(
        "source",
        "tokens",
        (prod / F.col("total").cast("decimal(38,0)"))
        .cast("decimal(38,0)")
        .cast("long")
        .alias("__div"),
        F.pmod(prod, F.col("total").cast("decimal(38,0)"))
        .cast("long")
        .alias("rem"),
        "total",
    )
    # decimal division rounds; floor-quota = (prod - rem) / total exact
    q = q.select(
        "source",
        "tokens",
        (
            (
                F.lit(_LR_BUDGET).cast("decimal(38,0)")
                * F.col("tokens").cast("decimal(38,0)")
                - F.col("rem").cast("decimal(38,0)")
            )
            / F.col("total").cast("decimal(38,0)")
        )
        .cast("long")
        .alias("quota"),
        "rem",
    )
    lv = q.agg((F.lit(_LR_BUDGET) - F.sum("quota")).alias("leftover"))
    wnd = Window.orderBy(F.col("rem").desc(), "source")
    r = q.withColumn("rk", F.row_number().over(wnd).cast("long"))
    return r.join(F.broadcast(lv)).select(
        "source",
        "tokens",
        "quota",
        (F.col("rk") <= F.col("leftover")).alias("gets_extra"),
        (
            F.col("quota")
            + F.when(F.col("rk") <= F.col("leftover"), 1).otherwise(0)
        ).alias("final_alloc"),
    )


# --------------------------------------------------------------------------
# place1 — rendezvous (HRW) shard placement
# --------------------------------------------------------------------------

_HRW_NODES = ("node-a", "node-b", "node-c", "node-d", "node-e")

_HRW_NODES_SQL = ", ".join(f"('{n}')" for n in _HRW_NODES)
_HRW_CE = CE_HASH64_SQL.format(
    h="md5('hrw|'||node||'|'||CAST(doc_id AS VARCHAR))"
)

_PLACE1_SQL = f"""
WITH nodes(node) AS (VALUES {_HRW_NODES_SQL}),
scored AS (
  SELECT d.doc_id, n.node, {_HRW_CE} AS score
  FROM documents d CROSS JOIN nodes n
)
SELECT doc_id, node AS owner, score AS owner_score
FROM (
  SELECT doc_id, node, score,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY score DESC, node DESC) AS rk
  FROM scored
) t
WHERE rk = 1
"""


@query("place1_rendezvous_owner", oracle=_PLACE1_SQL)
def place1_rendezvous_owner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rendezvous (highest-random-weight) hashing: each document's
    owner is the node whose ``hash(node, doc)`` scores highest — the
    consistent-placement scheme a 100 TB shard map uses because
    removing one node reassigns ONLY that node's keys (~1/N of the
    corpus) and adding one steals ~1/(N+1) from each, with no ring
    state to store (Thaler & Ravishankar 1996).

    Scale shape: zero shuffle and zero join — the N per-node scores
    are a per-row column expression (argmax over an N-element struct
    array inside whole-stage codegen, N = cluster size, a literal),
    so placement is a projection over the corpus scan. The oracle
    replays the same scores via the cross-engine hash and an
    argmax window; ties (2^-64 probability, but adversarial fixtures
    can force them) break on node name on both sides."""
    docs = load(spark, sf_dir, "documents")
    scored = F.array(
        *[
            F.struct(
                ce_hash64(
                    F.concat(
                        F.lit(f"hrw|{n}|"), F.col("doc_id").cast("string")
                    )
                ).alias("score"),
                F.lit(n).alias("node"),
            )
            for n in _HRW_NODES
        ]
    )
    best = F.array_max(scored)
    return docs.select(
        "doc_id",
        best["node"].alias("owner"),
        best["score"].alias("owner_score"),
    )


# --------------------------------------------------------------------------
# rh1 — rolling-hash content-defined chunking
# --------------------------------------------------------------------------

_RH_K = 3
_RH_DIV = 16

_RH_CE = CE_HASH64_SQL.format(h="md5('rh|'||g)")

_RH1_SQL = f"""
WITH toks AS (
  SELECT doc_id, regexp_extract_all(text, '\\S+') AS l FROM documents
),
grams AS (
  SELECT doc_id, CAST(i AS BIGINT) AS pos,
         array_to_string(l[i:i+{_RH_K - 1}], ' ') AS g
  FROM toks, UNNEST(range(1, len(l) - {_RH_K - 2})) u(i)
),
hashed AS (
  SELECT doc_id, pos,
         (({_RH_CE}) % 1000000000 + 1000000000) % 1000000000 AS h9,
         CAST((({_RH_CE}) % {_RH_DIV} + {_RH_DIV}) % {_RH_DIV} = 0
              AS INTEGER) AS is_boundary
  FROM grams
),
chunked AS (
  SELECT doc_id, pos, h9,
         CAST(sum(is_boundary) OVER (PARTITION BY doc_id ORDER BY pos
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
              AS BIGINT) AS chunk_id0
  FROM hashed
)
SELECT doc_id,
       COALESCE(chunk_id0, 0) AS chunk_id,
       CAST(min(pos) AS BIGINT) AS start_pos,
       CAST(max(pos) AS BIGINT) AS end_pos,
       CAST(count(*) AS BIGINT) AS n_grams,
       CAST(sum(h9) AS BIGINT) AS chunk_hash
FROM chunked
GROUP BY doc_id, COALESCE(chunk_id0, 0)
"""


def _rh_chunk_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rh1's per-(doc, chunk) table (span, gram count, order-free
    hash) — factored so rh2's dedup-payoff census replays the
    identical chunking instead of a drifting twin."""
    docs = load_spread(spark, sf_dir, "documents")
    from ..functions.dedup import word_shingles

    grams = docs.select(
        "doc_id",
        F.posexplode(
            word_shingles(F.col("text"), _RH_K, distinct=False)
        ).alias("pos0", "g"),
    ).select("doc_id", (F.col("pos0") + 1).cast("long").alias("pos"), "g")
    h = ce_hash64(F.concat(F.lit("rh|"), F.col("g")))
    hashed = grams.select(
        "doc_id",
        "pos",
        F.pmod(h, F.lit(1_000_000_000)).alias("h9"),
        (F.pmod(h, F.lit(_RH_DIV)) == 0).cast("int").alias("is_boundary"),
    )
    w = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    chunked = hashed.select(
        "doc_id",
        "pos",
        "h9",
        F.coalesce(F.sum("is_boundary").over(w), F.lit(0))
        .cast("long")
        .alias("chunk_id"),
    )
    return chunked.groupBy("doc_id", "chunk_id").agg(
        F.min("pos").alias("start_pos"),
        F.max("pos").alias("end_pos"),
        F.count("*").alias("n_grams"),
        F.sum("h9").alias("chunk_hash"),
    )


@query("rh1_content_chunks", oracle=_RH1_SQL)
def rh1_content_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-hash content-defined chunking (the Rabin–Karp /
    LBFS-style fingerprinting the brief's "document fingerprinting"
    names): hash every k-gram as it slides over the token stream and
    cut a chunk boundary wherever ``hash % D == 0`` — boundaries
    follow CONTENT, not offsets, so inserting a sentence shifts one
    chunk instead of re-chunking the whole document (the property
    fixed-size chunking (c1) lacks, and what makes sub-document dedup
    and delta-sync incremental). Emits per-chunk (span, gram count,
    order-independent mod-1e9 hash) — the chunk table sub-document
    dedup joins on.

    Scale shape: ONE posexplode of the multiplicity-preserving
    shingle array, one windowed running sum per doc (partitioned by
    doc — no global sort), one groupBy on (doc, chunk). Expected
    chunk length is geometric with mean D grams; D tunes chunk
    granularity exactly like a CDC store's divisor."""
    return _rh_chunk_table(spark, sf_dir)


# --------------------------------------------------------------------------
# priv2 — l-diversity audit (the k-anonymity companion)
# --------------------------------------------------------------------------

_PRIV2_L = 3

_PRIV2_SQL = f"""
WITH sv AS (
  SELECT c_nationkey,
         CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_band,
         c_mktsegment,
         CAST(count(*) AS BIGINT) AS c
  FROM customer
  GROUP BY 1, 2, 3
)
SELECT c_nationkey, bal_band,
       CAST(sum(c) AS BIGINT) AS class_size,
       CAST(count(*) AS BIGINT) AS n_sensitive_values,
       count(*) >= {_PRIV2_L} AS l_diverse,
       CAST(max(c) AS DOUBLE) / CAST(sum(c) AS DOUBLE) AS top_share
FROM sv
GROUP BY 1, 2
"""


@query("priv2_l_diversity", oracle=_PRIV2_SQL)
def priv2_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit (Machanavajjhala et al. 2007) — the
    companion k-anonymity (anon1) needs: a class can be large enough
    to pass k yet expose everyone in it because all members share ONE
    sensitive value (the homogeneity attack). Quasi-identifiers are
    (nation, balance band); the sensitive attribute is the market
    segment; a class is l-diverse when ≥ l distinct sensitive
    values appear (l = 3 here). top_share (the plurality sensitive value's
    fraction) is the continuous signal behind the boolean — near 1.0
    means homogeneity even when l technically passes.

    Exactness: both levels are map-side-combined integer counts; the
    flag is an integer compare; top_share is ONE double division of
    exact BIGINTs. NULL segments count as a distinct value on
    neither engine (count(*) over the grouped spine treats the NULL
    group as a row on both — the groupBy keeps it — so the two
    engines agree by construction).

    Scale shape: two stacked groupBys on prefixes of the same key
    (QI+sensitive, then QI) — Catalyst reuses the first exchange for
    the second aggregate since the keys are a prefix; no join, no
    window, no skew exposure beyond the QI classes themselves."""
    c = load(spark, sf_dir, "customer")
    sv = c.groupBy(
        "c_nationkey",
        F.floor(F.col("c_acctbal") / 1000).alias("bal_band"),
        "c_mktsegment",
    ).agg(F.count("*").cast("long").alias("c"))
    return sv.groupBy("c_nationkey", "bal_band").agg(
        F.sum("c").cast("long").alias("class_size"),
        F.count("*").cast("long").alias("n_sensitive_values"),
        (F.count("*") >= _PRIV2_L).alias("l_diverse"),
        (F.max("c").cast("double") / F.sum("c").cast("double")).alias(
            "top_share"
        ),
    )


# --------------------------------------------------------------------------
# place2 — HRW placement load-balance audit (round 10)
# --------------------------------------------------------------------------

_PLACE2_SQL = f"""
WITH nodes(node) AS (VALUES {_HRW_NODES_SQL}),
scored AS (
  SELECT d.doc_id, d.n_chars, n.node, {_HRW_CE} AS score
  FROM documents d CROSS JOIN nodes n
  WHERE d.doc_id IS NOT NULL
),
owned AS (
  SELECT doc_id, n_chars, node AS owner
  FROM (
    SELECT doc_id, n_chars, node, score,
           row_number() OVER (PARTITION BY doc_id
                              ORDER BY score DESC, node DESC) AS rk
    FROM scored
  ) t WHERE rk = 1
),
loads AS (
  SELECT n.node,
         CAST(count(o.doc_id) AS BIGINT) AS n_docs,
         CAST(coalesce(sum(o.n_chars), 0) AS BIGINT) AS n_chars
  FROM nodes n LEFT JOIN owned o ON o.owner = n.node
  GROUP BY n.node
),
tot AS (
  SELECT CAST(sum(n_docs) AS BIGINT) AS td,
         CAST(count(*) AS BIGINT) AS nn
  FROM loads
)
SELECT l.node, l.n_docs, l.n_chars,
       CAST((1000 * l.n_docs) // NULLIF(t.td, 0) AS BIGINT)
         AS docs_permille,
       CAST((1000 * l.n_docs * t.nn) // NULLIF(t.td, 0) AS BIGINT)
         AS load_vs_fair_permille
FROM loads l CROSS JOIN tot t
"""


@query("place2_placement_balance", oracle=_PLACE2_SQL)
def place2_placement_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Load-balance audit of place1's rendezvous placement: per-node
    document and byte loads plus load_vs_fair (1000 = exactly the
    fair 1/N share) — the number that certifies HRW's uniformity
    promise ON THIS corpus and catches the failure modes consistent
    placement is bought for: hash-family bias, a key-space pathology
    (adversarial doc_ids), or simply N too small for the law of large
    numbers. Nodes that own NOTHING still get a row (LEFT join from
    the literal node table) — a silent zero-load node is the audit's
    most important finding, not a dropped group.

    Exactness: loads are BIGINT counts off place1's exact argmax
    (replayed identically: same hash, same struct ordering, same
    node-name tiebreak); both shares are integral permille divisions
    of non-negatives.

    Scale shape: placement stays the place1 zero-shuffle projection;
    the audit adds ONE map-side-combinable (owner) groupBy and a
    broadcast of the N-row node table. At 100 TB this is the cheapest
    possible full-corpus pass — which is the point, it runs per
    rebalance proposal."""
    docs = load(spark, sf_dir, "documents").filter(
        F.col("doc_id").isNotNull()
    )
    scored = F.array(
        *[
            F.struct(
                ce_hash64(
                    F.concat(
                        F.lit(f"hrw|{n}|"), F.col("doc_id").cast("string")
                    )
                ).alias("score"),
                F.lit(n).alias("node"),
            )
            for n in _HRW_NODES
        ]
    )
    owned = docs.select(
        F.array_max(scored)["node"].alias("owner"),
        F.col("n_chars"),
    )
    nodes = spark.createDataFrame(
        [(n,) for n in _HRW_NODES], "node STRING"
    )
    # aggregate the corpus FIRST (map-side combinable, <= N rows out),
    # then left-join the N-row literal node table to the N-row loads —
    # the corpus never meets the outer join
    per_owner = owned.groupBy("owner").agg(
        F.count("*").cast("long").alias("n_docs_o"),
        F.coalesce(F.sum("n_chars"), F.lit(0)).cast("long").alias(
            "n_chars_o"
        ),
    )
    loads = (
        nodes.join(
            F.broadcast(per_owner), nodes["node"] == per_owner["owner"], "left"
        )
        .select(
            "node",
            F.coalesce(F.col("n_docs_o"), F.lit(0))
            .cast("long")
            .alias("n_docs"),
            F.coalesce(F.col("n_chars_o"), F.lit(0))
            .cast("long")
            .alias("n_chars"),
        )
    )
    tot = loads.agg(
        F.sum("n_docs").cast("long").alias("td"),
        F.count("*").cast("long").alias("nn"),
    )
    return loads.crossJoin(F.broadcast(tot)).select(
        "node",
        "n_docs",
        "n_chars",
        F.expr("CAST((1000 * n_docs) div nullif(td, 0) AS BIGINT)").alias(
            "docs_permille"
        ),
        F.expr(
            "CAST((1000 * n_docs * nn) div nullif(td, 0) AS BIGINT)"
        ).alias("load_vs_fair_permille"),
    )


# --------------------------------------------------------------------------
# rh2 — content-defined chunk dedup payoff census (round 10)
# --------------------------------------------------------------------------

# rh1's full statement re-expressed as CTEs + the cross-doc census
_RH2_SQL = f"""
WITH toks AS (
  SELECT doc_id, regexp_extract_all(text, '\\S+') AS l FROM documents
),
grams AS (
  SELECT doc_id, CAST(i AS BIGINT) AS pos,
         array_to_string(l[i:i+{_RH_K - 1}], ' ') AS g
  FROM toks, UNNEST(range(1, len(l) - {_RH_K - 2})) u(i)
),
hashed AS (
  SELECT doc_id, pos,
         (({_RH_CE}) % 1000000000 + 1000000000) % 1000000000 AS h9,
         CAST((({_RH_CE}) % {_RH_DIV} + {_RH_DIV}) % {_RH_DIV} = 0
              AS INTEGER) AS is_boundary
  FROM grams
),
chunked AS (
  SELECT doc_id, pos, h9,
         CAST(sum(is_boundary) OVER (PARTITION BY doc_id ORDER BY pos
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
              AS BIGINT) AS chunk_id0
  FROM hashed
),
chunks AS (
  SELECT doc_id,
         CAST(count(*) AS BIGINT) AS n_grams,
         CAST(sum(h9) AS BIGINT) AS chunk_hash
  FROM chunked
  GROUP BY doc_id, COALESCE(chunk_id0, 0)
),
keys AS (
  SELECT chunk_hash, n_grams,
         CAST(count(*) AS BIGINT) AS copies
  FROM chunks GROUP BY chunk_hash, n_grams
)
SELECT CAST(sum(copies) AS BIGINT) AS n_chunks,
       CAST(count(*) AS BIGINT) AS n_distinct_chunks,
       CAST(sum(copies - 1) AS BIGINT) AS n_dup_chunks,
       CAST(sum(copies * n_grams) AS BIGINT) AS total_grams,
       CAST(sum((copies - 1) * n_grams) AS BIGINT) AS reclaimable_grams,
       CAST((1000 * sum((copies - 1) * n_grams))
            // NULLIF(sum(copies * n_grams), 0) AS BIGINT)
         AS reclaim_permille
FROM keys
"""


@query("rh2_chunk_dedup_payoff", oracle=_RH2_SQL)
def rh2_chunk_dedup_payoff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document dedup-payoff census over rh1's content-defined
    chunks — the number a CDC store (LBFS, Muthitacharoen et al.
    2001; restic/borg-style dedup) quotes as its savings estimate:
    chunks sharing an identity key (order-free mod-1e9 hash + gram
    count) store ONCE, so reclaimable_grams = sum over keys of
    (copies-1)*size is the exact sub-document dedup payoff d12's
    whole-document census cannot see (two docs sharing one paragraph
    are invisible to md5(text), visible here). Because rh1's
    boundaries follow content, an insertion shifts one chunk — the
    payoff number is stable under edits, which is why CDC chunking
    (not fixed windows) is the delta-sync primitive.

    Exactness: pure BIGINT counting over the replayed rh1 chunk table
    (_rh_chunk_table — the identical plan, not a twin); the one rate
    is an integral permille division of non-negatives.

    Scale shape: rh1's doc-keyed chunking plus ONE map-side-combinable
    (hash, size) groupBy whose input is one row per chunk (corpus
    grams / ~{div} expected), then a 1-row rollup. Only chunk
    digests shuffle — the m4 rule."""
    chunks = _rh_chunk_table(spark, sf_dir)
    keys = chunks.groupBy("chunk_hash", "n_grams").agg(
        F.count("*").cast("long").alias("copies")
    )
    return keys.agg(
        F.sum("copies").cast("long").alias("n_chunks"),
        F.count("*").cast("long").alias("n_distinct_chunks"),
        F.sum(F.col("copies") - 1).cast("long").alias("n_dup_chunks"),
        F.sum(F.col("copies") * F.col("n_grams"))
        .cast("long")
        .alias("total_grams"),
        F.sum((F.col("copies") - 1) * F.col("n_grams"))
        .cast("long")
        .alias("reclaimable_grams"),
        F.expr(
            "CAST((1000 * sum((copies - 1) * n_grams))"
            " div nullif(sum(copies * n_grams), 0) AS BIGINT)"
        ).alias("reclaim_permille"),
    )


rh2_chunk_dedup_payoff.__doc__ = rh2_chunk_dedup_payoff.__doc__.format(
    div=_RH_DIV
)
