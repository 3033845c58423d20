"""Corpus-statistics mining operators — the *statistics* stages of a
training-data pipeline (SURVEY.md §7 phase 5 extension; no reference
counterpart — the reference is a 479-line pandas ETL).

Families in this module:

- tokenizer training: ``bpe1`` (one BPE merge step — char-pair counts)
- quality scoring: ``lm1`` (unigram-LM frequency-rank proxy, CCNet
  style), ``cos1`` (tf-idf cosine near-pairs over a capped inverted
  index)
- rank statistics: ``corr1`` (Spearman), ``mw1`` (Mann-Whitney U
  two-sample drift), ``an3`` (rank-based winsorization), ``wmed1``
  (weighted median), ``den1`` (grid-density outliers)
- trend & mixture measures: ``g13`` (OLS trend from decimal power
  sums), ``gini1`` (language-mix impurity), ``dq7`` (Benford digit
  audit), ``dq6`` (join-key skew profile)
- behavior sequences: ``seq1`` (event trigrams), ``att1``
  (multi-touch attribution), ``itv1`` (interval union), ``fe1``
  (halving-decay activity feature), ``w8``/``w9`` (IGNORE-NULLS
  navigation, ratio-to-report)
- operational: ``late1`` (watermark late-arrival restatement plan),
  ``ivm1`` (incremental view maintenance via mergeable states),
  ``zone1`` (zone-map file statistics), ``grp1`` (ordered top-N
  concat)

Determinism contract (registry docstring): counts and ranks are
integers; every rank window ends in a unique tiebreak key; double
arithmetic happens only on exact integer-derived operands (IEEE-
identical across engines) and is ``round``-ed where a quotient is
emitted. No RNG, no floats accumulated in partition order; group
splits use the cross-engine hash of stable keys, never literal data
values (the corpus renames values between driver rounds).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.materialize import pin
from ..functions.dedup import CE_HASH64_SQL, ce_hash64, tokens
from .registry import EVENTS_US_CTE, load, load_spread, materialized, query

# --------------------------------------------------------------------------
# bpe1 — one BPE-training merge step (char-pair counting)
# --------------------------------------------------------------------------

_BPE1_TOP = 20


@query(
    "bpe1_merge_step",
    oracle=f"""
    WITH words AS (
      SELECT unnest(regexp_extract_all(text, '\\S+')) AS w FROM documents
    ),
    pairs AS (
      SELECT unnest(list_transform(generate_series(1, length(w) - 1),
                                   i -> substring(w, CAST(i AS INTEGER), 2))) AS pair
      FROM words WHERE length(w) >= 2
    )
    SELECT pair, CAST(count(*) AS BIGINT) AS c
    FROM pairs GROUP BY pair
    ORDER BY c DESC, pair LIMIT {_BPE1_TOP}
    """,
)
def bpe1_merge_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One inner-loop step of BPE tokenizer training: count every
    adjacent symbol pair inside each word across the corpus and emit
    the top merge candidates. Real BPE iterates this (merge the top
    pair, recount); one step is the engine-shaped kernel — the rest
    is a driver loop over a shrinking alphabet.

    Shape: explode words (narrow), explode per-word char bigrams via
    ``transform(sequence(...))`` (narrow — no join, no UDF), one
    pair-keyed groupBy (map-side combined: the key space is
    alphabet², tiny), TakeOrdered top-k. At 100 TB the only shuffle
    is alphabet²-sized aggregation — this scales with corpus bytes,
    not pairs. Words of length 1 are filtered BEFORE the sequence:
    Spark's ``sequence(1, 0)`` counts *down* ([1, 0]) instead of
    returning empty, which would fabricate pairs."""
    docs = load_spread(spark, sf_dir, "documents").select("text")
    w = F.col("w")
    pairs = (
        docs.select(F.explode(tokens(F.col("text"))).alias("w"))
        .where(F.length(w) >= 2)
        .select(
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.length(w) - 1),
                    lambda i: w.substr(i, F.lit(2)),
                )
            ).alias("pair")
        )
    )
    return (
        pairs.groupBy("pair")
        .agg(F.count("*").cast("long").alias("c"))
        .orderBy(F.desc("c"), "pair")
        .limit(_BPE1_TOP)
    )


# --------------------------------------------------------------------------
# lm1 — unigram-LM document quality score via integer frequency ranks
# --------------------------------------------------------------------------


@query(
    "lm1_unigram_rank_score",
    oracle="""
    WITH tok AS (
      SELECT doc_id, unnest(regexp_extract_all(text, '\\S+')) AS w FROM documents
    ),
    uni AS (
      SELECT w, count(*) AS c FROM tok GROUP BY w
    ),
    ranked AS (
      SELECT w, CAST(row_number() OVER (ORDER BY c DESC, w) AS BIGINT) AS r
      FROM uni
    )
    SELECT t.doc_id,
           CAST(count(*) AS BIGINT) AS n_tok,
           CAST(sum(r.r) AS BIGINT) AS rank_sum,
           round(CAST(sum(r.r) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6)
             AS avg_rank
    FROM tok t JOIN ranked r ON t.w = r.w
    GROUP BY t.doc_id
    """,
)
def lm1_unigram_rank_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style quality scoring with a unigram LM, made bit-exact:
    instead of mean log-probability (libm-specific), score each doc
    by the mean corpus FREQUENCY RANK of its tokens — the ranking of
    docs is equivalent for filtering purposes (rank is a monotone
    proxy for -log p under Zipf), and integer ranks hash-match across
    engines. Low avg_rank = common-word prose; very high = rare-token
    noise — the standard perplexity-bucket curation signal.

    Shape: one vocab groupBy, one GLOBAL row_number over the vocab
    (vocabulary-sized — millions of rows at web scale, one partition
    of a few MB; NOT corpus-sized), a broadcast-friendly rank join
    back onto the exploded tokens, one doc-keyed reaggregation. The
    corpus-sized stages are all narrow or map-side combined."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    tok = docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("w"))
    uni = tok.groupBy("w").agg(F.count("*").alias("c"))
    ranked = uni.select(
        "w",
        F.row_number()
        .over(Window.orderBy(F.desc("c"), "w"))
        .cast("long")
        .alias("r"),
    )
    n_tok = F.count("*").cast("long")
    rank_sum = F.sum("r").cast("long")
    return (
        tok.join(F.broadcast(ranked), "w")
        .groupBy("doc_id")
        .agg(
            n_tok.alias("n_tok"),
            rank_sum.alias("rank_sum"),
            F.round(
                rank_sum.cast("double") / n_tok.cast("double"), 6
            ).alias("avg_rank"),
        )
    )


# --------------------------------------------------------------------------
# corr1 — Spearman rank correlation (integer rank arithmetic)
# --------------------------------------------------------------------------


@query(
    "corr1_spearman",
    oracle=f"""
    WITH {EVENTS_US_CTE},
    ranked AS (
      SELECT event_type,
             CAST(row_number() OVER (PARTITION BY event_type
                                     ORDER BY value, event_id) AS BIGINT) AS rx,
             CAST(row_number() OVER (PARTITION BY event_type
                                     ORDER BY ts, event_id) AS BIGINT) AS ry
      FROM ev
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum((rx - ry) * (rx - ry)) AS BIGINT) AS sum_d2,
           CASE WHEN count(*) >= 2
                THEN round(1.0
                      - 6.0 * CAST(sum((rx - ry) * (rx - ry)) AS DOUBLE)
                      / CAST(count(*) * (count(*) * count(*) - 1) AS DOUBLE), 6)
           END AS rho
    FROM ranked GROUP BY event_type
    """,
)
def corr1_spearman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation between event value and event time,
    per event type — the robust monotone-association measure (drift:
    'are values trending over time?'). Pearson on ranks degrades to
    pure integer arithmetic: rho = 1 - 6·Σd²/(n(n²-1)), where d is
    the difference of the two row_number ranks — bit-exact across
    engines, unlike float-accumulated ``corr``.

    Shape: two rank windows over the SAME partition key (one
    exchange — Catalyst reuses the hash partitioning for both sorts),
    then a partial-aggregated groupBy. No joins. Ties are broken by
    the unique event_id so ranks are deterministic; with heavy
    value-ties this is 'Spearman with arbitrary-but-stable tie order'
    — the documented trade for exactness (average-rank ties would
    need fractional ranks)."""
    ev = load(spark, sf_dir, "events").select("event_id", "event_type", "ts", "value")
    by_type = Window.partitionBy("event_type")
    rx = F.row_number().over(by_type.orderBy("value", "event_id")).cast("long")
    ry = F.row_number().over(by_type.orderBy("ts", "event_id")).cast("long")
    d = F.col("rx") - F.col("ry")
    n = F.count("*").cast("long")
    sum_d2 = F.sum(d * d).cast("long")
    return (
        ev.select("event_type", rx.alias("rx"), ry.alias("ry"))
        .groupBy("event_type")
        .agg(
            n.alias("n"),
            sum_d2.alias("sum_d2"),
            # rho is undefined for a single-row group: n(n²-1) = 0 —
            # NULL, not an ANSI DIVIDE_BY_ZERO (oracle's CASE twin)
            F.when(
                n >= 2,
                F.round(
                    F.lit(1.0)
                    - F.lit(6.0)
                    * sum_d2.cast("double")
                    / (n * (n * n - F.lit(1))).cast("double"),
                    6,
                ),
            ).alias("rho"),
        )
    )


# --------------------------------------------------------------------------
# an3 — rank-based winsorization (percentile clamping without floats)
# --------------------------------------------------------------------------

_WINSOR_LO = 0.05
_WINSOR_HI = 0.95


@query(
    "an3_winsorize",
    oracle=f"""
    WITH {EVENTS_US_CTE},
    ranked AS (
      SELECT event_id, event_type, value,
             CAST(row_number() OVER (PARTITION BY event_type
                                     ORDER BY value, event_id) AS BIGINT) AS rn,
             CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n
      FROM ev
    ),
    bounded AS (
      SELECT *,
             CAST(ceil(CAST(n AS DOUBLE) * {_WINSOR_LO}) AS BIGINT) AS k_lo,
             CAST(ceil(CAST(n AS DOUBLE) * {_WINSOR_HI}) AS BIGINT) AS k_hi
      FROM ranked
    ),
    walls AS (
      SELECT *,
             max(CASE WHEN rn = k_lo THEN value END)
               OVER (PARTITION BY event_type) AS lo_val,
             max(CASE WHEN rn = k_hi THEN value END)
               OVER (PARTITION BY event_type) AS hi_val
      FROM bounded
    )
    SELECT event_id, event_type, value,
           CASE WHEN rn < k_lo THEN lo_val
                WHEN rn > k_hi THEN hi_val
                ELSE value END AS winsorized
    FROM walls
    """,
)
def an3_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorization: clamp each group's values into its [p05, p95]
    band — the robust pre-aggregation treatment for heavy-tailed
    metrics (an1/an2 *flag* outliers; this *repairs* them). The
    percentile boundary is chosen by RANK (the value at row_number
    ceil(q·n)), not interpolated — the boundary is an actual datum,
    clamped rows copy it verbatim, and no float arithmetic ever
    happens on the measure, so the result hash-matches bit-for-bit.

    Shape: one hash exchange on event_type, reused by all three
    window passes (rank, wall lookup — Catalyst collapses same-key
    windows into one sort); no joins, no second shuffle. Group
    cardinality (events per type) must fit a partition — the same
    contract as any per-group sort window; salt or pre-bucket if a
    single group outgrows an executor."""
    ev = load(spark, sf_dir, "events").select("event_id", "event_type", "value")
    by_type = Window.partitionBy("event_type")
    ranked = ev.select(
        "event_id",
        "event_type",
        "value",
        F.row_number().over(by_type.orderBy("value", "event_id"))
        .cast("long")
        .alias("rn"),
        F.count("*").over(by_type).cast("long").alias("n"),
    )
    bounded = ranked.select(
        "*",
        F.ceil(F.col("n").cast("double") * _WINSOR_LO).cast("long").alias("k_lo"),
        F.ceil(F.col("n").cast("double") * _WINSOR_HI).cast("long").alias("k_hi"),
    )
    walls = bounded.select(
        "*",
        F.max(F.when(F.col("rn") == F.col("k_lo"), F.col("value")))
        .over(by_type)
        .alias("lo_val"),
        F.max(F.when(F.col("rn") == F.col("k_hi"), F.col("value")))
        .over(by_type)
        .alias("hi_val"),
    )
    return walls.select(
        "event_id",
        "event_type",
        "value",
        F.when(F.col("rn") < F.col("k_lo"), F.col("lo_val"))
        .when(F.col("rn") > F.col("k_hi"), F.col("hi_val"))
        .otherwise(F.col("value"))
        .alias("winsorized"),
    )


# --------------------------------------------------------------------------
# gini1 — Gini impurity of the language mix per source (rational form)
# --------------------------------------------------------------------------


@query(
    "gini1_lang_impurity",
    oracle="""
    WITH cl AS (
      SELECT source, lang, CAST(count(*) AS BIGINT) AS c
      FROM documents GROUP BY source, lang
    )
    SELECT source,
           CAST(sum(c) AS BIGINT) AS n_docs,
           CAST(count(*) AS BIGINT) AS n_langs,
           round(CAST(sum(c) * sum(c) - sum(c * c) AS DOUBLE)
                 / CAST(sum(c) * sum(c) AS DOUBLE), 9) AS gini
    FROM cl GROUP BY source
    """,
)
def gini1_lang_impurity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini impurity of each source's language distribution — the
    mixture-diversity dashboard number for a multilingual corpus
    (0 = monolingual source, →1 = uniform over many languages).
    Computed in RATIONAL form, 1 - Σpᵢ² = (N² - Σcᵢ²)/N², from exact
    integer counts: one double division at the end (IEEE-identical on
    identical integers) instead of accumulating float shares —
    entropy would need libm ``ln``; Gini ranks mixtures identically
    and stays exact.

    Shape: two cascaded map-side-combined groupBys ((source, lang)
    then source) — the first output is |sources|×|langs| rows, so the
    second aggregation is driver-trivial at any corpus size."""
    docs = load(spark, sf_dir, "documents").select("source", "lang")
    cl = docs.groupBy("source", "lang").agg(F.count("*").cast("long").alias("c"))
    n = F.sum("c").cast("long")
    sum_c2 = F.sum(F.col("c") * F.col("c")).cast("long")
    return cl.groupBy("source").agg(
        n.alias("n_docs"),
        F.count("*").cast("long").alias("n_langs"),
        F.round(
            (n * n - sum_c2).cast("double") / (n * n).cast("double"), 9
        ).alias("gini"),
    )


# --------------------------------------------------------------------------
# zone1 — zone-map (min/max) file statistics + pruning estimate
# --------------------------------------------------------------------------

_ZONE_BUCKETS = 64
_ZONE_LO = "1995-06-01"
_ZONE_HI = "1995-09-01"


@query(
    "zone1_zonemap_stats",
    oracle=f"""
    SELECT l_orderkey % {_ZONE_BUCKETS} AS file_id,
           CAST(count(*) AS BIGINT) AS n_rows,
           min(l_shipdate) AS min_ship,
           max(l_shipdate) AS max_ship,
           min(l_extendedprice) AS min_price,
           max(l_extendedprice) AS max_price,
           (max(l_shipdate) < DATE '{_ZONE_LO}'
            OR min(l_shipdate) >= DATE '{_ZONE_HI}') AS prunable
    FROM lineitem
    GROUP BY l_orderkey % {_ZONE_BUCKETS}
    """,
)
def zone1_zonemap_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone-map construction: per physical file (modeled as orderkey
    mod N — the round-robin layout a naive writer produces), the
    min/max column statistics a parquet footer / Delta add-file entry
    carries, plus whether a given shipdate range-predicate could skip
    the file entirely. This is the maintenance query behind
    data-skipping: on a clustered layout (zorder1) most zones become
    prunable; on this hash layout almost none are — the pair of
    queries demonstrates WHY layout matters at 100 TB.

    Shape: one groupBy on a key derived in the scan projection,
    map-side combined to N rows. Nothing else."""
    li = load(spark, sf_dir, "lineitem").select(
        (F.col("l_orderkey") % _ZONE_BUCKETS).alias("file_id"),
        "l_shipdate",
        "l_extendedprice",
    )
    return li.groupBy("file_id").agg(
        F.count("*").cast("long").alias("n_rows"),
        F.min("l_shipdate").alias("min_ship"),
        F.max("l_shipdate").alias("max_ship"),
        F.min("l_extendedprice").alias("min_price"),
        F.max("l_extendedprice").alias("max_price"),
        (
            (F.max("l_shipdate") < F.lit(_ZONE_LO).cast("date"))
            | (F.min("l_shipdate") >= F.lit(_ZONE_HI).cast("date"))
        ).alias("prunable"),
    )


# --------------------------------------------------------------------------
# fe1 — time-decayed activity score (integer halving decay)
# --------------------------------------------------------------------------


@query(
    "fe1_decayed_activity",
    oracle=f"""
    WITH {EVENTS_US_CTE},
    seq AS (
      SELECT user_id,
             CAST(round(value * 100) AS BIGINT) AS v_e2,
             CAST(row_number() OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS BIGINT) AS i,
             CAST(count(*) OVER (PARTITION BY user_id) AS BIGINT) AS n
      FROM ev
    )
    SELECT user_id,
           CAST(max(n) AS BIGINT) AS n_events,
           CAST(sum(CASE WHEN n - i >= 63 THEN 0
                         ELSE v_e2 >> (n - i) END) AS BIGINT) AS decayed_e2
    FROM seq GROUP BY user_id
    """,
)
def fe1_decayed_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-decayed user activity score — the classic recency-
    weighted feature (EWMA with α=1/2 per event): after a user's
    latest event, each prior event contributes its value halved once
    per intervening event. Float EWMA accumulates in libm/order-
    specific ways; here the value is fixed-pointed to cents and the
    decay is an INTEGER right-shift (exact floor-halving, identical
    in every engine), so the feature is reproducible bit-for-bit —
    what a feature store actually requires for training/serving skew
    audits.

    Shape: one hash exchange on user_id reused by both windows, then
    a map-side-combined reaggregation on the same key — Catalyst
    plans zero additional shuffles. Shift amounts ≥63 short-circuit
    to 0 (the contribution is provably zero) so ANSI mode never sees
    an out-of-range shift."""
    ev = load(spark, sf_dir, "events").select("event_id", "user_id", "ts", "value")
    by_user = Window.partitionBy("user_id")
    seq = ev.select(
        "user_id",
        F.round(F.col("value") * 100).cast("long").alias("v_e2"),
        F.row_number().over(by_user.orderBy("ts", "event_id"))
        .cast("long")
        .alias("i"),
        F.count("*").over(by_user).cast("long").alias("n"),
    )
    age = (F.col("n") - F.col("i")).cast("int")
    term = F.when(age >= 63, F.lit(0)).otherwise(
        F.expr("shiftright(v_e2, CAST(n - i AS INT))")
    )
    return seq.groupBy("user_id").agg(
        F.max("n").cast("long").alias("n_events"),
        F.sum(term).cast("long").alias("decayed_e2"),
    )


# --------------------------------------------------------------------------
# g13 — per-group linear trend from exact decimal power sums
# --------------------------------------------------------------------------

_G13_EPOCH = "2021-01-01"


@query(
    "g13_linear_trend",
    oracle=f"""
    WITH {EVENTS_US_CTE},
    pts AS (
      SELECT event_type,
             CAST(date_diff('day', DATE '{_G13_EPOCH}', CAST(ts AS DATE))
                  AS DECIMAL(18,2)) AS x,
             CAST(value AS DECIMAL(18,6)) AS y
      FROM ev
    ),
    s AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS DOUBLE) AS sx,
             CAST(sum(y) AS DOUBLE) AS sy,
             CAST(sum(CAST(x AS DECIMAL(19,2)) * CAST(x AS DECIMAL(19,2)))
                  AS DOUBLE) AS sxx,
             CAST(sum(CAST(x AS DECIMAL(19,2)) * CAST(y AS DECIMAL(19,6)))
                  AS DOUBLE) AS sxy
      FROM pts GROUP BY event_type
    )
    SELECT event_type, n,
           CASE WHEN n * sxx - sx * sx <> 0
                THEN round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6)
           END AS slope_per_day,
           CASE WHEN n * sxx - sx * sx <> 0
                THEN round((sy - (n * sxy - sx * sy)
                            / (n * sxx - sx * sx) * sx) / n, 6)
           END AS intercept
    FROM s
    """,
)
def g13_linear_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group OLS trend line (value vs. day index) from exact
    decimal power sums — ``regr_slope``/``regr_intercept`` without
    their float-accumulation nondeterminism, extending g8's moment
    pattern to regression. The drift question dq3 answers
    categorically ('did the distribution move?') this answers
    parametrically ('how fast is the level moving per day?').

    Shape: one map-side-combined groupBy computing five shared sums;
    slope/intercept are per-group scalar arithmetic on exact inputs.
    Day index (not epoch seconds) keeps x² sums within decimal(18)
    range at any corpus age."""
    ev = load(spark, sf_dir, "events").select("event_type", "ts", "value")
    x = F.datediff(F.to_date("ts"), F.lit(_G13_EPOCH).cast("date")).cast(
        "decimal(18,2)"
    )
    y = F.col("value").cast("decimal(18,6)")
    s = ev.select("event_type", x.alias("x"), y.alias("y")).groupBy(
        "event_type"
    ).agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x").cast("double").alias("sx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("double").alias("sxx"),
        F.sum(F.col("x") * F.col("y")).cast("double").alias("sxy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxx, sxy = F.col("sxx"), F.col("sxy")
    # the line is undefined when every point shares one x (or n = 1):
    # the denominator is exactly 0 — NULL slope/intercept, not an ANSI
    # DIVIDE_BY_ZERO (oracle's CASE twin; both engines compute the
    # identical double denominator, so the guard agrees bit-for-bit)
    den = n * sxx - sx * sx
    slope = (n * sxy - sx * sy) / den
    return s.select(
        "event_type",
        "n",
        F.when(den != 0, F.round(slope, 6)).alias("slope_per_day"),
        F.when(den != 0, F.round((sy - slope * sx) / n, 6)).alias("intercept"),
    )


# --------------------------------------------------------------------------
# att1 — linear multi-touch attribution within a trailing window
# --------------------------------------------------------------------------

_ATT_WINDOW_US = 7 * 86_400 * 1_000_000  # 7 days in microseconds


@query(
    "att1_linear_attribution",
    oracle=f"""
    WITH {EVENTS_US_CTE},
    w AS (
      SELECT event_id, user_id, event_type, value,
             sum(CASE WHEN event_type IN ('click', 'view') THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY epoch_us(ts)
                     RANGE BETWEEN {_ATT_WINDOW_US} PRECEDING
                               AND CURRENT ROW) AS n_touches
      FROM ev
    )
    SELECT event_id, user_id, value,
           CAST(n_touches AS BIGINT) AS n_touches,
           CASE WHEN n_touches > 0 THEN value / n_touches END
             AS credit_per_touch
    FROM w WHERE event_type = 'purchase'
    """,
)
def att1_linear_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear multi-touch attribution: each purchase's value is split
    evenly across the user's click/view touchpoints in the trailing
    7 days — the standard marketing-credit model, and the archetypal
    'aggregate one event type over a value-RANGE window of another'
    shape. The frame is value-based (epoch-microsecond RANGE), so
    simultaneous events are handled identically in every engine —
    a ROWS frame would be partition-order-dependent.

    Shape: ONE window pass (hash exchange on user_id + range frame —
    the running-sum frame is O(1) memory per row), then a narrow
    filter to purchases. No self-join: the naive formulation is a
    purchase×touch interval join (quadratic in per-user activity);
    the window form is linear. Division only fires when touches
    exist (ANSI-safe), and the purchase itself is never a touch so
    the CURRENT ROW bound adds nothing."""
    ev = load(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "event_type", "value"
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros(F.col("ts").cast("timestamp")))
        .rangeBetween(-_ATT_WINDOW_US, 0)
    )
    n_touches = (
        F.sum(
            F.when(F.col("event_type").isin("click", "view"), F.lit(1)).otherwise(
                F.lit(0)
            )
        )
        .over(w)
        .cast("long")
    )
    return (
        ev.select(
            "event_id",
            "user_id",
            "event_type",
            "value",
            n_touches.alias("n_touches"),
        )
        .where(F.col("event_type") == "purchase")
        .select(
            "event_id",
            "user_id",
            "value",
            "n_touches",
            F.when(
                F.col("n_touches") > 0, F.col("value") / F.col("n_touches")
            ).alias("credit_per_touch"),
        )
    )


# --------------------------------------------------------------------------
# itv1 — merge overlapping intervals (gaps-and-islands union)
# --------------------------------------------------------------------------

_ITV_DWELL_US = 600 * 1_000_000  # each event opens a 10-minute interval


@query(
    "itv1_merge_intervals",
    oracle=f"""
    WITH {EVENTS_US_CTE},
    iv AS (
      SELECT user_id, event_id, epoch_us(ts) AS t,
             epoch_us(ts) + {_ITV_DWELL_US} AS e
      FROM ev
    ),
    flagged AS (
      SELECT user_id, t, e,
             CASE WHEN max(e) OVER (PARTITION BY user_id ORDER BY t, event_id
                                    ROWS BETWEEN UNBOUNDED PRECEDING
                                             AND 1 PRECEDING) IS NULL
                    OR t > max(e) OVER (PARTITION BY user_id ORDER BY t, event_id
                                        ROWS BETWEEN UNBOUNDED PRECEDING
                                                 AND 1 PRECEDING)
                  THEN 1 ELSE 0 END AS is_new
      FROM iv
    ),
    islands AS (
      SELECT user_id, t, e,
             sum(is_new) OVER (PARTITION BY user_id ORDER BY t
                               ROWS BETWEEN UNBOUNDED PRECEDING
                                        AND CURRENT ROW) AS island
      FROM flagged
    )
    SELECT user_id, CAST(island AS BIGINT) AS island,
           make_timestamp(min(t)) AS island_start,
           make_timestamp(max(e)) AS island_end,
           CAST(count(*) AS BIGINT) AS n_events
    FROM islands GROUP BY user_id, island
    """,
)
def itv1_merge_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval union (merge overlapping intervals): every event opens
    a 10-minute presence interval; overlapping intervals per user are
    merged into maximal 'islands' — the classic gaps-and-islands
    rewrite of what is naively a self-join chain. Distinct from e2's
    sessionization (gap BETWEEN events): here intervals have EXTENT,
    so an island ends only when a gap exceeds the remaining dwell —
    the uptime-merge / meeting-room-union primitive.

    Shape: one hash exchange on user_id reused by both window passes
    (running max-of-ends with a 1-PRECEDING bound, then a running sum
    of island-open flags — Catalyst stacks them over one sort), then
    a map-side-combined groupBy on (user, island). Linear; the
    self-join formulation this replaces is quadratic per user."""
    ev = load(spark, sf_dir, "events").select("user_id", "event_id", "ts")
    t = F.unix_micros(F.col("ts").cast("timestamp"))
    iv = ev.select(
        "user_id",
        "event_id",
        t.alias("t"),
        (t + F.lit(_ITV_DWELL_US)).alias("e"),
    )
    by_user = Window.partitionBy("user_id").orderBy("t", "event_id")
    prev_max_end = F.max("e").over(
        by_user.rowsBetween(Window.unboundedPreceding, -1)
    )
    flagged = iv.select(
        "user_id",
        "t",
        "e",
        F.when(
            prev_max_end.isNull() | (F.col("t") > prev_max_end), F.lit(1)
        )
        .otherwise(F.lit(0))
        .alias("is_new"),
    )
    island = (
        F.sum("is_new")
        .over(
            Window.partitionBy("user_id")
            .orderBy("t")
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        .cast("long")
    )
    return (
        flagged.select("user_id", "t", "e", island.alias("island"))
        .groupBy("user_id", "island")
        .agg(
            F.timestamp_micros(F.min("t")).alias("island_start"),
            F.timestamp_micros(F.max("e")).alias("island_end"),
            F.count("*").cast("long").alias("n_events"),
        )
    )


# --------------------------------------------------------------------------
# w8 — first/last/nth_value with IGNORE NULLS (sparse carry-forward)
# --------------------------------------------------------------------------


@query(
    "w8_nth_value",
    oracle=f"""
    WITH {EVENTS_US_CTE},
    v AS (
      SELECT event_id, user_id, ts,
             CASE WHEN event_type = 'purchase' THEN value END AS pv
      FROM ev
    )
    SELECT event_id, user_id, pv,
           last_value(pv IGNORE NULLS)
             OVER (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS last_purchase,
           first_value(pv IGNORE NULLS)
             OVER (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS first_purchase,
           nth_value(pv, 2 IGNORE NULLS)
             OVER (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS second_purchase
    FROM v
    """,
)
def w8_nth_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IGNORE-NULLS window navigation: for every event, the user's
    most recent / first / second purchase value as of that moment —
    the sparse-to-dense carry-forward that powers 'state as of each
    event' features (ts3 uses the same primitive to interpolate; here
    it is the surfaced operator, covering last_value, first_value and
    nth_value in their IGNORE NULLS forms).

    Shape: one hash exchange + one sort on (user, ts); all three
    functions share the same frame so Catalyst evaluates them in a
    single window operator. Running frames are O(1) state per row —
    no buffering of the partition."""
    ev = load(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "event_type", "value"
    )
    pv = F.when(F.col("event_type") == "purchase", F.col("value"))
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    # pv is projected in its own step: a window can't reference a
    # lateral column alias born in the same SELECT.
    return ev.select("event_id", "user_id", "ts", pv.alias("pv")).select(
        "event_id",
        "user_id",
        "pv",
        F.last("pv", ignorenulls=True).over(w).alias("last_purchase"),
        F.first("pv", ignorenulls=True).over(w).alias("first_purchase"),
        F.nth_value("pv", 2, ignoreNulls=True).over(w).alias("second_purchase"),
    )


# --------------------------------------------------------------------------
# w9 — ratio-to-report (share of group total, decimal-exact denominator)
# --------------------------------------------------------------------------


@query(
    "w9_ratio_to_report",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_extendedprice,
           round(l_extendedprice
                 / NULLIF(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)))
                               OVER (PARTITION BY l_orderkey) AS DOUBLE),
                          0.0), 9)
             AS price_share
    FROM lineitem
    """,
)
def w9_ratio_to_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ratio-to-report: each line's share of its order's total — the
    percent-of-group primitive (Oracle's RATIO_TO_REPORT, the
    mix-share column on every revenue dashboard). The denominator is
    a DECIMAL window sum (exact, order-independent) cast to double
    once; the division is then IEEE-identical across engines, so the
    shares hash-match — a float-summed denominator would differ in
    the last ulp depending on partition order.

    Shape: one hash exchange on the group key, an unframed window
    aggregate (computed once per group, broadcast to its rows), and
    a narrow projection. Order keys are dense and small, so no skew
    treatment is needed; a skewed report key would take j11's salt."""
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_extendedprice"
    )
    total = F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).over(
        Window.partitionBy("l_orderkey")
    )
    return li.select(
        "l_orderkey",
        "l_linenumber",
        "l_extendedprice",
        # nullif'd denominator: an all-zero group (a feed of free
        # lines) must yield NULL shares in BOTH engines, not an ANSI
        # divide-by-zero here and NULL in DuckDB (branch-free, same
        # guard pattern as the cosine norms)
        F.round(
            F.col("l_extendedprice")
            / F.nullif(total.cast("double"), F.lit(0.0)),
            9,
        ).alias("price_share"),
    )


# --------------------------------------------------------------------------
# dq6 — join-key skew profile (the diagnosis j11's salting treats)
# --------------------------------------------------------------------------

_DQ6_TOP = 20


@query(
    "dq6_skew_profile",
    oracle=f"""
    WITH counts AS (
      SELECT o_custkey, CAST(count(*) AS BIGINT) AS c
      FROM orders GROUP BY o_custkey
    ),
    totals AS (
      SELECT CAST(sum(c) AS BIGINT) AS total,
             CAST(count(*) AS BIGINT) AS n_keys,
             CAST(max(c) AS BIGINT) AS max_c
      FROM counts
    )
    SELECT o_custkey, c,
           round(CAST(c AS DOUBLE) / CAST(total AS DOUBLE), 9) AS share,
           round(CAST(max_c * n_keys AS DOUBLE) / CAST(total AS DOUBLE), 6)
             AS skew_ratio
    FROM counts, totals
    ORDER BY c DESC, o_custkey LIMIT {_DQ6_TOP}
    """,
)
def dq6_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew profile: the top-N heaviest customer keys in the
    orders fact, each with its share of all rows, plus the global
    skew ratio (heaviest key ÷ mean key load — 1.0 means uniform;
    j11's salting becomes worthwhile as this grows). This is the
    diagnostic you run BEFORE choosing a join strategy at 100 TB:
    AQE's skew-join handles moderate skew at runtime, but a key
    carrying percent-level share needs explicit salting or a
    broadcast rewrite, and this query is how you find out.

    Shape: one map-side-combined groupBy to key counts (|keys| rows),
    a 1-row totals aggregate cross-joined back (broadcast — the
    dq3 pattern, always exactly one row even on an empty fact), and
    TakeOrdered top-N. Nothing corpus-sized crosses the network."""
    counts = (
        load(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.count("*").cast("long").alias("c"))
    )
    totals = counts.agg(
        F.sum("c").cast("long").alias("total"),
        F.count("*").cast("long").alias("n_keys"),
        F.max("c").cast("long").alias("max_c"),
    )
    return (
        counts.crossJoin(F.broadcast(totals))
        .select(
            "o_custkey",
            "c",
            F.round(
                F.col("c").cast("double") / F.col("total").cast("double"), 9
            ).alias("share"),
            F.round(
                (F.col("max_c") * F.col("n_keys")).cast("double")
                / F.col("total").cast("double"),
                6,
            ).alias("skew_ratio"),
        )
        .orderBy(F.desc("c"), "o_custkey")
        .limit(_DQ6_TOP)
    )


# --------------------------------------------------------------------------
# wmed1 — weighted median via running decimal weight sums
# --------------------------------------------------------------------------


@query(
    "wmed1_weighted_median",
    oracle="""
    WITH w AS (
      SELECT l_returnflag,
             l_extendedprice,
             CAST(l_quantity AS DECIMAL(18,2)) AS qty,
             sum(CAST(l_quantity AS DECIMAL(18,2)))
               OVER (PARTITION BY l_returnflag
                     ORDER BY l_extendedprice, l_orderkey, l_linenumber
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumw,
             sum(CAST(l_quantity AS DECIMAL(18,2)))
               OVER (PARTITION BY l_returnflag) AS totw
      FROM lineitem
    )
    SELECT l_returnflag,
           CAST(max(totw) AS DOUBLE) AS total_weight,
           min(CASE WHEN 2 * cumw >= totw THEN l_extendedprice END)
             AS weighted_median
    FROM w GROUP BY l_returnflag
    """,
)
def wmed1_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted median (lower): the price at which half the group's
    total QUANTITY sits at or below — the robust central-tendency
    measure when rows carry unequal mass (median order line weighted
    by units, p50 latency weighted by request count). Defined as the
    first row (in fully-tiebroken price order) whose running weight
    reaches half the total: a deterministic datum, not an
    interpolation, so it hash-matches exactly. Weights accumulate in
    DECIMAL — order-independent addition; float running sums would
    make the crossing row engine-dependent at the boundary.

    Shape: one hash exchange on the group key feeds the running-sum
    window, the unframed total window, and the final groupBy — one
    shuffle total (same single-exchange contract as an3/ts2). Per-
    group sort is the inherent cost of any exact median."""
    li = load(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_extendedprice", "l_orderkey", "l_linenumber",
        F.col("l_quantity").cast("decimal(18,2)").alias("qty"),
    )
    by_flag = Window.partitionBy("l_returnflag")
    cumw = F.sum("qty").over(
        by_flag.orderBy("l_extendedprice", "l_orderkey", "l_linenumber")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    totw = F.sum("qty").over(by_flag)
    w = li.select(
        "l_returnflag",
        "l_extendedprice",
        cumw.alias("cumw"),
        totw.alias("totw"),
    )
    return w.groupBy("l_returnflag").agg(
        F.max("totw").cast("double").alias("total_weight"),
        F.min(
            F.when(F.lit(2) * F.col("cumw") >= F.col("totw"),
                   F.col("l_extendedprice"))
        ).alias("weighted_median"),
    )


# --------------------------------------------------------------------------
# cos1 — tf-idf cosine near-pairs via capped inverted index
# --------------------------------------------------------------------------

_COS_MAX_DF = 20  # drop terms in more docs than this (stop-terms)
_COS_TOP = 50


@query(
    "cos1_tfidf_cosine_pairs",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, regexp_extract_all(text, '\\S+') AS t FROM documents
    ),
    sh AS (
      SELECT doc_id, concat_ws(' ', t[i], t[i+1], t[i+2]) AS w
      FROM toks, UNNEST(range(1, greatest(len(t) - 1, 1))) AS u(i)
    ),
    tf AS (SELECT doc_id, w, count(*) AS tf FROM sh GROUP BY doc_id, w),
    df AS (SELECT w, count(*) AS df FROM tf GROUP BY w),
    nn AS (SELECT count(*) AS n FROM documents),
    wt AS (
      SELECT tf.doc_id, tf.w, tf.tf * ((1000 * n) // df) AS wv
      FROM tf JOIN df USING (w), nn
      WHERE df <= {_COS_MAX_DF}
    ),
    norms AS (SELECT doc_id, sum(wv * wv) AS nrm FROM wt GROUP BY doc_id),
    dots AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, sum(a.wv * b.wv) AS dot
      FROM wt a JOIN wt b ON a.w = b.w AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT doc_a, doc_b, CAST(dot AS BIGINT) AS dot,
           round(CAST(dot AS DOUBLE)
                 / sqrt(CAST(na.nrm AS DOUBLE) * CAST(nb.nrm AS DOUBLE)), 6)
             AS cosine
    FROM dots
    JOIN norms na ON na.doc_id = dots.doc_a
    JOIN norms nb ON nb.doc_id = dots.doc_b
    ORDER BY cosine DESC, doc_a, doc_b LIMIT {_COS_TOP}
    """,
)
def cos1_tfidf_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted near-duplicate pairs: top cosine similarities between
    tf-idf document vectors over 3-word SHINGLE terms, computed on an
    inverted index — the WEIGHTED counterpart of d2's set Jaccard
    (rare shared shingles count for more; single words are useless
    terms on a small vocabulary — every word's df exceeds any cap).
    The idf is the INTEGER (1000·N) div df — monotone in the true
    log-idf for ranking purposes and exact in both engines (t4/pmi1's
    libm-free rationale); all dot products and norms are therefore
    exact BIGINT sums, and the only float op is the final IEEE
    sqrt/divide, rounded once.

    Scale shape: stop-shingles (df > cap) are dropped BEFORE the
    term-keyed self-join, so each surviving term emits ≤ C(cap, 2)
    pair contributions — the d2b bound, linear in corpus size, never
    quadratic. Norm tables join back on doc ids (plain equi-joins).
    Integer headroom: wv ≤ tf·1000·N, so dot terms stay under 2^63
    up to ~10M docs at these caps; shift the 1000 scale down for
    larger corpora (it only rescales cosine's numerator and
    denominator together)."""
    from ..functions.dedup import word_shingles

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    tok = docs.select(
        "doc_id",
        F.explode(word_shingles(F.col("text"), 3, distinct=False)).alias("w"),
    )
    tf = tok.groupBy("doc_id", "w").agg(F.count("*").alias("tf"))
    df = tf.groupBy("w").agg(F.count("*").alias("df"))
    nn = docs.agg(F.count("*").alias("n"))
    wt = (
        tf.join(df.where(F.col("df") <= _COS_MAX_DF), "w")
        .crossJoin(F.broadcast(nn))
        .select(
            "doc_id",
            "w",
            (F.col("tf") * F.expr("(1000 * n) div df")).alias("wv"),
        )
    )
    # wt feeds THREE consumers (norms + both sides of the pair join):
    # unpersisted, the shingle explode and tf/df groupBys replay three
    # times (the d3 diamond-plan lesson). The session cache-clear
    # between registry queries releases it.
    from pyspark import StorageLevel

    wt = wt.persist(StorageLevel.MEMORY_AND_DISK)
    norms = wt.groupBy("doc_id").agg(F.sum(F.col("wv") * F.col("wv")).alias("nrm"))
    a, b = wt.alias("a"), wt.alias("b")
    dots = (
        a.join(
            b,
            (F.col("a.w") == F.col("b.w"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.sum(F.col("a.wv") * F.col("b.wv")).alias("dot"))
    )
    na, nb = norms.alias("na"), norms.alias("nb")
    return (
        dots.join(na, F.col("na.doc_id") == F.col("doc_a"))
        .join(nb, F.col("nb.doc_id") == F.col("doc_b"))
        .select(
            "doc_a",
            "doc_b",
            F.col("dot").cast("long").alias("dot"),
            F.round(
                F.col("dot").cast("double")
                / F.sqrt(
                    F.col("na.nrm").cast("double") * F.col("nb.nrm").cast("double")
                ),
                6,
            ).alias("cosine"),
        )
        .orderBy(F.desc("cosine"), "doc_a", "doc_b")
        .limit(_COS_TOP)
    )


# --------------------------------------------------------------------------
# mw1 — Mann-Whitney U rank-sum test between two sources (integer 2U)
# --------------------------------------------------------------------------


#: two-sample split by hash parity of the source name (the dq3
#: treatment): literal source names went vacuous when the driver
#: corpus renamed its sources between rounds.
_MW_GRP_EVEN = (
    "((("
    + CE_HASH64_SQL.format(h="md5('mw|'||source)")
    + ") % 2) + 2) % 2 = 0"
)


@query(
    "mw1_mann_whitney",
    oracle=f"""
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
                                              AND 1 PRECEDING), 0) AS b_less
      FROM counts
    ),
    s AS (
      SELECT CAST(sum(w_v) AS BIGINT) AS n_ref,
             CAST(sum(b_v) AS BIGINT) AS n_cand,
             CAST(sum(w_v * (2 * b_less + b_v)) AS BIGINT) AS u2x
      FROM cum
    )
    SELECT n_ref, n_cand, u2x,
           CASE WHEN n_ref > 0 AND n_cand > 0 THEN
             round((CAST(u2x AS DOUBLE) / 2
                    - CAST(n_ref * n_cand AS DOUBLE) / 2)
                   / sqrt(CAST(n_ref * n_cand AS DOUBLE)
                          * CAST(n_ref + n_cand + 1 AS DOUBLE) / 12), 6)
           END AS z
    FROM s
    """,
)
def mw1_mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U rank-sum test between the two hash-parity
    halves of the corpus's sources: does one half's document-length
    distribution stochastically dominate the other? — the nonparametric
    two-sample drift test (dq3 tests categorical shares; this tests
    ordinal location). Computed WITHOUT ranking the corpus: group to
    per-VALUE counts first (the n_chars domain is small), then
    U = Σ_v w_v·(B_less(v) + b_v/2) over that tiny table — doubled to
    keep it integral (2U), so the statistic is bit-exact; the z score
    is one IEEE expression over three integers.

    Scale shape: the only corpus-sized op is a map-side-combined
    groupBy on the value key. The running sum over the value DOMAIN
    is a single-partition window over |distinct values| rows — the
    lm1 vocabulary precedent, deliberate and documented, not a
    corpus-sized sort."""
    docs = load(spark, sf_dir, "documents")
    even = (
        F.pmod(ce_hash64(F.concat(F.lit("mw|"), F.col("source"))), F.lit(2))
        == 0
    )
    counts = docs.groupBy("n_chars").agg(
        F.sum(F.when(even, 1).otherwise(0)).alias("w_v"),
        F.sum(F.when(~even, 1).otherwise(0)).alias("b_v"),
    )
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
    )
    s = cum.agg(
        F.sum("w_v").cast("long").alias("n_ref"),
        F.sum("b_v").cast("long").alias("n_cand"),
        F.sum(F.col("w_v") * (2 * F.col("b_less") + F.col("b_v")))
        .cast("long")
        .alias("u2x"),
    )
    nw, nb, u2x = F.col("n_ref"), F.col("n_cand"), F.col("u2x")
    # degenerate corpus (one group empty) → z is NULL, not a /0 —
    # the dq3 lesson applied here
    return s.select(
        "n_ref",
        "n_cand",
        "u2x",
        F.when(
            (nw > 0) & (nb > 0),
            F.round(
                (u2x.cast("double") / 2 - (nw * nb).cast("double") / 2)
                / F.sqrt(
                    (nw * nb).cast("double") * (nw + nb + 1).cast("double") / 12
                ),
                6,
            ),
        ).alias("z"),
    )


# --------------------------------------------------------------------------
# seq1 — event trigram sequence mining (two lags, bounded key space)
# --------------------------------------------------------------------------


@query(
    "seq1_event_trigrams",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type,
             lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev1,
             lag(event_type, 2) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS prev2
      FROM events
    )
    SELECT prev2 AS step1, prev1 AS step2, event_type AS step3,
           CAST(count(*) AS BIGINT) AS n_paths
    FROM seq WHERE prev2 IS NOT NULL
    GROUP BY prev2, prev1, event_type
    """,
)
def seq1_event_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent 3-step behavior paths: every consecutive event-type
    trigram per user, counted corpus-wide — markov1's first-order
    transition matrix extended to second order (the path-mining
    signal behind 'view→click→purchase' funnels; the full matrix is
    |types|³ rows, so the aggregation key space is tiny and fixed).

    Shape: both lags share one (user, time) sort over one hash
    exchange; the trigram groupBy is map-side combined into at most
    |types|³ rows. Linear, two shuffles total."""
    ev = load(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", "event_type"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type",
        F.lag("event_type", 1).over(w).alias("prev1"),
        F.lag("event_type", 2).over(w).alias("prev2"),
    )
    return (
        seq.where(F.col("prev2").isNotNull())
        .groupBy(
            F.col("prev2").alias("step1"),
            F.col("prev1").alias("step2"),
            F.col("event_type").alias("step3"),
        )
        .agg(F.count("*").cast("long").alias("n_paths"))
    )


# --------------------------------------------------------------------------
# late1 — late-arrival accounting and restatement planning
# --------------------------------------------------------------------------

_LATE_DELAY_US = 600 * 1_000_000  # 10-minute watermark delay


@query(
    "late1_restatement_plan",
    oracle=f"""
    WITH {EVENTS_US_CTE},
    seq AS (
      SELECT ts, event_id, user_id,
             max(epoch_us(ts)) OVER (PARTITION BY user_id
                                     ORDER BY event_id
                                     ROWS BETWEEN UNBOUNDED PRECEDING
                                              AND 1 PRECEDING) AS hwm
      FROM ev
    )
    SELECT date_trunc('hour', ts) AS window_start,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CASE WHEN hwm IS NOT NULL
                          AND epoch_us(ts) + {_LATE_DELAY_US} < hwm
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_late,
           sum(CASE WHEN hwm IS NOT NULL
                     AND epoch_us(ts) + {_LATE_DELAY_US} < hwm
                    THEN 1 ELSE 0 END) > 0 AS needs_restate
    FROM seq GROUP BY date_trunc('hour', ts)
    """,
)
def late1_restatement_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Late-arrival accounting: which hourly windows received events
    that arrived AFTER the stream's per-user watermark had passed
    them (event time + allowed delay < the high-water mark of
    earlier-INGESTED events, ingest order = event_id) — exactly the
    rows a streaming job with this watermark would have dropped, and
    therefore the windows a nightly batch restatement must recompute
    (st2's watermark semantics replayed as a batch audit; the
    operational complement of r1's incremental rollup).

    Shape: one hash exchange on user_id for the running high-water
    mark (an O(1)-state running max in ingest order), then one
    map-side-combined groupBy onto hour windows. Per-user watermarks
    keep the plan scale-free — a GLOBAL ingest watermark would need
    a single-partition sort of the whole fact."""
    ev = load(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    t = F.unix_micros(F.col("ts").cast("timestamp"))
    seq = ev.select(
        "ts",
        t.alias("t"),
        F.max(t)
        .over(
            Window.partitionBy("user_id")
            .orderBy("event_id")
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        .alias("hwm"),
    )
    is_late = F.when(
        F.col("hwm").isNotNull()
        & (F.col("t") + _LATE_DELAY_US < F.col("hwm")),
        1,
    ).otherwise(0)
    return (
        seq.select(F.date_trunc("hour", "ts").alias("window_start"),
                   is_late.alias("late"))
        .groupBy("window_start")
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.sum("late").cast("long").alias("n_late"),
            (F.sum("late") > 0).alias("needs_restate"),
        )
    )


# --------------------------------------------------------------------------
# dq7 — Benford leading-digit audit (fixed-point digits, literal expectations)
# --------------------------------------------------------------------------

#: log10(1 + 1/d) rounded once, inlined as LITERALS in both engines —
#: no libm call happens inside either query.
_BENFORD = {
    1: 0.301029996, 2: 0.176091259, 3: 0.124938737, 4: 0.096910013,
    5: 0.079181246, 6: 0.06694679, 7: 0.057991947, 8: 0.051152522,
    9: 0.045757491,
}
_BENFORD_CASE = (
    "CASE digit "
    + " ".join(f"WHEN {d} THEN {p}" for d, p in _BENFORD.items())
    + " END"
)


@query(
    "dq7_benford_digits",
    oracle=f"""
    WITH {EVENTS_US_CTE},
    digits AS (
      SELECT CAST(substring(CAST(CAST(round(value * 100) AS BIGINT) AS VARCHAR),
                            1, 1) AS INTEGER) AS digit
      FROM ev WHERE value > 0
    ),
    counts AS (
      SELECT digit, CAST(count(*) AS BIGINT) AS n FROM digits GROUP BY digit
    ),
    tot AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM counts)
    SELECT digit, n,
           round(CAST(n AS DOUBLE) / CAST(total AS DOUBLE), 9) AS share,
           {_BENFORD_CASE} AS expected,
           round(abs(CAST(n AS DOUBLE) / CAST(total AS DOUBLE)
                     - ({_BENFORD_CASE})), 9) AS abs_dev
    FROM counts, tot
    """,
)
def dq7_benford_digits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford leading-digit audit: the distribution of first digits
    of event values against Benford's law — the classic fabricated-
    data / instrumentation-bug detector (uniform-ish digits on a
    quantity that should be scale-invariant is a red flag). The
    leading digit comes from the CENTS fixed-point integer rendered
    as a string (bigint→string is identical in every engine; double
    →string is not), and the expected shares are pre-rounded
    LITERALS, so no libm function runs in either engine.

    Shape: narrow digit projection, 9-row groupBy, 1-row total
    broadcast back (the dq3/dq6 pattern). Nothing else."""
    ev = load(spark, sf_dir, "events").where(F.col("value") > 0)
    digit = F.substring(
        F.round(F.col("value") * 100).cast("long").cast("string"), 1, 1
    ).cast("int")
    counts = ev.select(digit.alias("digit")).groupBy("digit").agg(
        F.count("*").cast("long").alias("n")
    )
    tot = counts.agg(F.sum("n").cast("long").alias("total"))
    expected = F.element_at(
        F.create_map(
            *[F.lit(x) for kv in _BENFORD.items() for x in kv]
        ),
        F.col("digit"),
    )
    share = F.col("n").cast("double") / F.col("total").cast("double")
    return counts.crossJoin(F.broadcast(tot)).select(
        "digit",
        "n",
        F.round(share, 9).alias("share"),
        expected.alias("expected"),
        F.round(F.abs(share - expected), 9).alias("abs_dev"),
    )


# --------------------------------------------------------------------------
# ivm1 — incremental view maintenance: merge partial aggregate states
# --------------------------------------------------------------------------

_IVM_CUTOVER = "1995-01-01"  # history < cutover <= delta


@query(
    "ivm1_partial_merge",
    oracle=f"""
    WITH hist AS (
      SELECT o_orderpriority AS pri,
             CAST(count(*) AS BIGINT) AS n,
             sum(CAST(o_totalprice AS DECIMAL(18,2))) AS s,
             min(o_totalprice) AS mn, max(o_totalprice) AS mx
      FROM orders WHERE o_orderdate < DATE '{_IVM_CUTOVER}'
      GROUP BY o_orderpriority
    ),
    delta AS (
      SELECT o_orderpriority AS pri,
             CAST(count(*) AS BIGINT) AS n,
             sum(CAST(o_totalprice AS DECIMAL(18,2))) AS s,
             min(o_totalprice) AS mn, max(o_totalprice) AS mx
      FROM orders WHERE o_orderdate >= DATE '{_IVM_CUTOVER}'
      GROUP BY o_orderpriority
    ),
    merged AS (
      SELECT pri, CAST(sum(n) AS BIGINT) AS n,
             CAST(sum(s) AS DOUBLE) AS total,
             min(mn) AS vmin, max(mx) AS vmax
      FROM (SELECT * FROM hist UNION ALL SELECT * FROM delta)
      GROUP BY pri
    ),
    direct AS (
      SELECT o_orderpriority AS pri,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
             min(o_totalprice) AS vmin, max(o_totalprice) AS vmax
      FROM orders GROUP BY o_orderpriority
    )
    SELECT m.pri, m.n, m.total, m.vmin, m.vmax,
           m.n = d.n AND m.total = d.total
             AND m.vmin = d.vmin AND m.vmax = d.vmax AS merge_exact
    FROM merged m JOIN direct d USING (pri)
    """,
)
def ivm1_partial_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance: yesterday's materialized partial
    aggregate states (count / decimal sum / min / max per group) are
    MERGED with a new delta batch's partials instead of recomputing
    from all history — the mergeable-state property every incremental
    rollup (r1), partial-aggregation pushdown, and cube refresh rests
    on. The query re-derives the full aggregate two ways (merge-of-
    partials vs direct) and emits a per-group ``merge_exact`` proof
    column — true BY CONSTRUCTION for these states because decimal
    addition is associative-exact; the same test on float sums would
    fail in the last ulp, which is exactly why the engine's sums
    route through DECIMAL.

    Shape: two disjoint partial groupBys (their scans prune on the
    cutover predicate), a group-keyed merge of |groups|-sized states,
    and a broadcast self-check join — the verification is test-scale
    scaffolding; production keeps only the merge (history states are
    read, never recomputed)."""
    o = load(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("pri"), "o_orderdate", "o_totalprice"
    )
    cut = F.lit(_IVM_CUTOVER).cast("date")

    def partial(df: DataFrame) -> DataFrame:
        return df.groupBy("pri").agg(
            F.count("*").cast("long").alias("n"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("s"),
            F.min("o_totalprice").alias("mn"),
            F.max("o_totalprice").alias("mx"),
        )

    hist = partial(o.where(F.col("o_orderdate") < cut))
    delta = partial(o.where(F.col("o_orderdate") >= cut))
    merged = (
        hist.unionAll(delta)
        .groupBy("pri")
        .agg(
            F.sum("n").cast("long").alias("n"),
            F.sum("s").cast("double").alias("total"),
            F.min("mn").alias("vmin"),
            F.max("mx").alias("vmax"),
        )
    )
    direct = o.groupBy("pri").agg(
        F.count("*").cast("long").alias("n_d"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("total_d"),
        F.min("o_totalprice").alias("vmin_d"),
        F.max("o_totalprice").alias("vmax_d"),
    )
    return merged.join(F.broadcast(direct), "pri").select(
        "pri",
        "n",
        "total",
        "vmin",
        "vmax",
        (
            (F.col("n") == F.col("n_d"))
            & (F.col("total") == F.col("total_d"))
            & (F.col("vmin") == F.col("vmin_d"))
            & (F.col("vmax") == F.col("vmax_d"))
        ).alias("merge_exact"),
    )


# --------------------------------------------------------------------------
# grp1 — ordered top-3 concat per group (rank pivot, no collect_list)
# --------------------------------------------------------------------------


@query(
    "grp1_group_top3_concat",
    oracle="""
    WITH ranked AS (
      SELECT n.n_name,
             s.s_name,
             row_number() OVER (PARTITION BY n.n_name
                                ORDER BY s.s_acctbal DESC, s.s_suppkey) AS rk
      FROM supplier s JOIN nation n ON s.s_nationkey = n.n_nationkey
    )
    SELECT n_name,
           concat_ws('|',
             min(CASE WHEN rk = 1 THEN s_name END),
             min(CASE WHEN rk = 2 THEN s_name END),
             min(CASE WHEN rk = 3 THEN s_name END)) AS top_suppliers
    FROM ranked WHERE rk <= 3
    GROUP BY n_name
    """,
)
def grp1_group_top3_concat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered top-N concatenation per group ('best 3 suppliers per
    nation' as one display string) — the reporting shape usually
    written with collect_list + sort. collect_list's order is
    PARTITION-ORDER-DEPENDENT (nondeterministic under parallelism),
    so instead each rank slot is pivoted out with min(CASE WHEN rk=i)
    and concatenated — fully deterministic in any engine at any
    parallelism, and the rank filter cuts the aggregation input to
    ≤N rows per group.

    Shape: broadcast dim join, one rank window, a ≤3-rows-per-group
    filter BEFORE the groupBy (the aggregation input is N·|groups|,
    not the fact table), map-side combined."""
    s = load(spark, sf_dir, "supplier").select(
        "s_name", "s_acctbal", "s_suppkey", "s_nationkey"
    )
    n = load(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    rk = F.row_number().over(
        Window.partitionBy("n_name").orderBy(
            F.desc("s_acctbal"), "s_suppkey"
        )
    )
    ranked = (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .select("n_name", "s_name", rk.alias("rk"))
        .where(F.col("rk") <= 3)
    )
    slot = [
        F.min(F.when(F.col("rk") == i, F.col("s_name"))) for i in (1, 2, 3)
    ]
    return ranked.groupBy("n_name").agg(
        F.concat_ws("|", *slot).alias("top_suppliers")
    )


# --------------------------------------------------------------------------
# den1 — grid-density outliers (multivariate, DBSCAN-lite)
# --------------------------------------------------------------------------

_DEN_VALUE_BIN = 50  # value-axis cell width
_DEN_MIN_PTS = 5  # cells below this count are sparse


@query(
    "den1_grid_density",
    oracle=f"""
    WITH {EVENTS_US_CTE},
    pts AS (
      SELECT event_id, value,
             CAST(floor(value / {_DEN_VALUE_BIN}) AS BIGINT) AS cell_v,
             CAST(hour(ts) AS BIGINT) AS cell_h
      FROM ev
    ),
    cells AS (
      SELECT cell_v, cell_h, CAST(count(*) AS BIGINT) AS cell_n
      FROM pts GROUP BY cell_v, cell_h
    )
    SELECT p.event_id, p.value, p.cell_v, p.cell_h, c.cell_n
    FROM pts p JOIN cells c USING (cell_v, cell_h)
    WHERE c.cell_n < {_DEN_MIN_PTS}
    """,
)
def den1_grid_density(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Density-based outlier detection on a (value, hour-of-day) grid:
    events landing in cells with fewer than min_pts neighbors are
    flagged — the grid approximation of DBSCAN noise points, and the
    MULTIVARIATE complement of an1/an2 (a value normal on its own may
    be anomalous at 3am). Grid density is the form that scales: exact
    DBSCAN needs an epsilon-radius self-join; the grid needs one
    groupBy over a bounded cell space and a join back against the
    (tiny, sparse-only) cell list.

    Shape: narrow cell projection, map-side-combined cell counts, and
    an equi-join of the fact against the filtered sparse-cell table —
    broadcast at any realistic grid size. Output is only the flagged
    rows (outliers are rare by construction)."""
    ev = load(spark, sf_dir, "events").select("event_id", "ts", "value")
    pts = ev.select(
        "event_id",
        "value",
        F.floor(F.col("value") / _DEN_VALUE_BIN).cast("long").alias("cell_v"),
        F.hour("ts").cast("long").alias("cell_h"),
    )
    cells = pts.groupBy("cell_v", "cell_h").agg(
        F.count("*").cast("long").alias("cell_n")
    )
    sparse = cells.where(F.col("cell_n") < _DEN_MIN_PTS)
    return pts.join(F.broadcast(sparse), ["cell_v", "cell_h"]).select(
        "event_id", "value", "cell_v", "cell_h", "cell_n"
    )


# --------------------------------------------------------------------------
# wmed2 — two-phase banded weighted median (the 100 TB path for wmed1)
# --------------------------------------------------------------------------

_WMED2_BAND = 100  # price band width for phase 1


@query(
    "wmed2_weighted_median_banded",
    # Same logical result as wmed1 — the oracle is DELIBERATELY the
    # single-window formulation, proving the two-phase plan computes
    # the identical lower weighted median.
    oracle="""
    WITH w AS (
      SELECT l_returnflag,
             l_extendedprice,
             sum(CAST(l_quantity AS DECIMAL(18,2)))
               OVER (PARTITION BY l_returnflag
                     ORDER BY l_extendedprice, l_orderkey, l_linenumber
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumw,
             sum(CAST(l_quantity AS DECIMAL(18,2)))
               OVER (PARTITION BY l_returnflag) AS totw
      FROM lineitem
    )
    SELECT l_returnflag,
           CAST(max(totw) AS DOUBLE) AS total_weight,
           min(CASE WHEN 2 * cumw >= totw THEN l_extendedprice END)
             AS weighted_median
    FROM w GROUP BY l_returnflag
    """,
)
def wmed2_weighted_median_banded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """wmed1's answer by a plan that survives 100 TB: the exact
    weighted median WITHOUT sorting any full group. Phase 1 buckets
    prices into bands and aggregates band weights (map-side combined
    to |groups|·|bands| rows); a window over that TINY band table
    finds each group's crossing band — the band where the running
    weight first reaches half the total — and the weight accumulated
    strictly before it. Phase 2 sorts ONLY the rows inside each
    group's crossing band (a broadcast semi-filter of the fact) and
    offsets their running weight by the phase-1 prefix. wmed1's
    single window instead sorts every group end-to-end — one straggler
    task per giant group; here the per-group sort is one band wide.
    Same two-phase banded pattern as sky1's Pareto frontier. The
    oracle is deliberately the one-window formulation: both plans
    must produce the identical datum."""
    li = load(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_extendedprice", "l_orderkey", "l_linenumber",
        F.col("l_quantity").cast("decimal(18,2)").alias("qty"),
    ).withColumn(
        "band", F.floor(F.col("l_extendedprice") / _WMED2_BAND).cast("long")
    )
    bands = li.groupBy("l_returnflag", "band").agg(
        F.sum("qty").alias("bw")
    )
    from pyspark import StorageLevel

    by_flag_band = Window.partitionBy("l_returnflag").orderBy("band")
    banded = bands.select(
        "l_returnflag",
        "band",
        F.sum("bw")
        .over(by_flag_band.rowsBetween(Window.unboundedPreceding, 0))
        .alias("cum"),
        F.sum("bw")
        .over(Window.partitionBy("l_returnflag"))
        .alias("totw"),
    )
    # the band table feeds crossing (twice) and prefix: persist the
    # tiny relation so the lineitem scan + band groupBy run once
    banded = banded.persist(StorageLevel.MEMORY_AND_DISK)
    crossing = (
        banded.where(F.lit(2) * F.col("cum") >= F.col("totw"))
        .groupBy("l_returnflag")
        .agg(
            F.min("band").alias("xband"),
            F.max("totw").alias("totw"),
        )
    )
    # weight accumulated strictly BEFORE the crossing band: cum is
    # monotone in band, so it's the max cum over earlier bands (absent
    # when the crossing band is the group's first band -> coalesce 0)
    prefix = (
        banded.join(
            F.broadcast(crossing.select("l_returnflag", "xband")),
            "l_returnflag",
        )
        .where(F.col("band") < F.col("xband"))
        .groupBy("l_returnflag")
        .agg(F.max("cum").alias("prior"))
    )
    inb = li.join(F.broadcast(crossing), "l_returnflag").where(
        F.col("band") == F.col("xband")
    )
    w_in = Window.partitionBy("l_returnflag").orderBy(
        "l_extendedprice", "l_orderkey", "l_linenumber"
    ).rowsBetween(Window.unboundedPreceding, 0)
    scored = (
        inb.join(F.broadcast(prefix), "l_returnflag", "left_outer")
        .select(
            "l_returnflag",
            "l_extendedprice",
            "totw",
            (
                F.coalesce(F.col("prior"), F.lit(0).cast("decimal(18,2)"))
                + F.sum("qty").over(w_in)
            ).alias("cumw"),
        )
    )
    return scored.groupBy("l_returnflag").agg(
        F.max("totw").cast("double").alias("total_weight"),
        F.min(
            F.when(F.lit(2) * F.col("cumw") >= F.col("totw"),
                   F.col("l_extendedprice"))
        ).alias("weighted_median"),
    )


# --------------------------------------------------------------------------
# pv1 — multi-aggregate pivot (count + decimal sum per pivoted value)
# --------------------------------------------------------------------------

_PV1_TYPES = ["click", "error", "purchase", "signup", "view"]


@query(
    "pv1_pivot_multi_agg",
    oracle=f"""
    WITH {EVENTS_US_CTE},
    d AS (SELECT user_id, event_type, value FROM ev)
    SELECT user_id,
           {", ".join(
             f"CAST(sum(CASE WHEN event_type = '{t}' THEN 1 ELSE 0 END) AS BIGINT)"
             f" AS n_{t}, "
             f"CAST(COALESCE(sum(CASE WHEN event_type = '{t}' "
             f"THEN CAST(value AS DECIMAL(18,6)) END), 0) AS DOUBLE)"
             f" AS total_{t}"
             for t in _PV1_TYPES
           )}
    FROM d GROUP BY user_id
    """,
)
def pv1_pivot_multi_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-aggregate pivot: one row per user with BOTH a count and a
    decimal-exact value total per event type — the wide feature-matrix
    shape (g2 pivots a single aggregate; real feature engineering
    wants several per cell). Implemented as conditional aggregation
    rather than ``.pivot()``: the pivoted domain is declared
    explicitly, so the plan is a single map-side-combined groupBy
    with no distinct-values pre-pass (``pivot()`` without a values
    list runs an extra collect to discover columns — a driver
    round-trip this formulation never pays).

    Shape: ONE groupBy over the fact, 10 conditional aggregates
    sharing the shuffle; absent combinations yield 0 via coalesce so
    the matrix is dense."""
    ev = load(spark, sf_dir, "events").select("user_id", "event_type", "value")
    aggs = []
    for t in _PV1_TYPES:
        is_t = F.col("event_type") == t
        aggs.append(
            F.sum(F.when(is_t, 1).otherwise(0)).cast("long").alias(f"n_{t}")
        )
        aggs.append(
            F.coalesce(
                F.sum(F.when(is_t, F.col("value").cast("decimal(18,6)"))),
                F.lit(0).cast("decimal(28,6)"),
            )
            .cast("double")
            .alias(f"total_{t}")
        )
    return ev.groupBy("user_id").agg(*aggs)


# --------------------------------------------------------------------------
# dq8 — candidate-key uniqueness audit
# --------------------------------------------------------------------------


@query(
    "dq8_uniqueness_audit",
    oracle=f"""
    WITH {EVENTS_US_CTE},
    o AS (
      SELECT 'orders.o_orderkey' AS candidate_key,
             CAST(count(*) AS BIGINT) AS n_rows,
             CAST(count(DISTINCT o_orderkey) AS BIGINT) AS n_keys
      FROM orders
    ),
    l AS (
      SELECT 'lineitem.(l_orderkey,l_linenumber)' AS candidate_key,
             CAST(count(*) AS BIGINT) AS n_rows,
             CAST(count(DISTINCT l_orderkey || '|' || l_linenumber) AS BIGINT)
               AS n_keys
      FROM lineitem
    ),
    e AS (
      SELECT 'events.(user_id,ts)' AS candidate_key,
             CAST(count(*) AS BIGINT) AS n_rows,
             CAST(count(DISTINCT user_id || '|' || epoch_us(ts)) AS BIGINT)
               AS n_keys
      FROM ev
    )
    SELECT candidate_key, n_rows, n_keys,
           n_rows - n_keys AS n_violations,
           n_rows = n_keys AS is_unique
    FROM (SELECT * FROM o UNION ALL SELECT * FROM l UNION ALL SELECT * FROM e)
    """,
)
def dq8_uniqueness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate-key uniqueness audit: for each declared key (the
    orders PK, the lineitem composite PK, the events (user, time)
    near-key) — row count vs distinct-key count, violation count, and
    a pass flag. The dq-family completion next to dq1's FK orphans:
    upstream MERGE/SCD2 correctness (j6, scd2) silently depends on
    these keys actually being unique, and this is the audit that
    says so. Composite keys fold to one comparable value by '|'-
    joined string encoding — injective here (no key part contains the
    separator) and overflow-free where an arithmetic fold is not.

    Shape: three independent single-pass aggregations (count +
    count-distinct share one shuffle each via Spark's distinct-agg
    rewrite), unioned into a 3-row report."""
    o = load(spark, sf_dir, "orders").agg(
        F.lit("orders.o_orderkey").alias("candidate_key"),
        F.count("*").cast("long").alias("n_rows"),
        F.countDistinct("o_orderkey").cast("long").alias("n_keys"),
    )
    li = load(spark, sf_dir, "lineitem").agg(
        F.lit("lineitem.(l_orderkey,l_linenumber)").alias("candidate_key"),
        F.count("*").cast("long").alias("n_rows"),
        F.countDistinct(
            F.concat_ws("|", "l_orderkey", "l_linenumber")
        ).cast("long").alias("n_keys"),
    )
    ev = load(spark, sf_dir, "events").agg(
        F.lit("events.(user_id,ts)").alias("candidate_key"),
        F.count("*").cast("long").alias("n_rows"),
        F.countDistinct(
            F.concat_ws(
                "|",
                F.col("user_id"),
                F.unix_micros(F.col("ts").cast("timestamp")),
            )
        ).cast("long").alias("n_keys"),
    )
    return (
        o.unionAll(li)
        .unionAll(ev)
        .select(
            "candidate_key",
            "n_rows",
            "n_keys",
            (F.col("n_rows") - F.col("n_keys")).alias("n_violations"),
            (F.col("n_rows") == F.col("n_keys")).alias("is_unique"),
        )
    )


# --------------------------------------------------------------------------
# bpe2 — three unrolled BPE training merges on the weighted vocab
# --------------------------------------------------------------------------

_BPE2_ROUNDS = 3


def _bpe2_sql_ctes() -> str:
    """Unrolled replay of the merge rounds (shared by the bpe2 winners
    oracle and the bpe3 compression oracle). The merge itself (collapse
    left-to-right, non-overlapping) is expressed position-wise: in a
    maximal RUN of consecutive candidate positions (only possible when
    a = b, e.g. 'aaa'), exactly the even offsets merge — the same
    result the Spark side's array fold produces."""
    ctes = [
        """w0 AS (
      SELECT w, CAST(count(*) AS BIGINT) AS freq
      FROM (SELECT unnest(regexp_extract_all(text, '\\S+')) AS w
            FROM documents)
      GROUP BY w
    ),
    s0 AS (
      SELECT w AS w_id, freq,
             list_transform(range(1, length(w) + 1),
                            i -> substring(w, CAST(i AS INTEGER), 1)) AS syms
      FROM w0
    )""",
    ]
    for i in range(1, _BPE2_ROUNDS + 1):
        p = i - 1
        ctes.append(
            f"""t{i} AS (
      SELECT syms[j] AS a, syms[j + 1] AS b, CAST(sum(freq) AS BIGINT) AS c
      FROM s{p}, UNNEST(range(1, len(syms))) AS u(j)
      GROUP BY 1, 2
      ORDER BY c DESC, a, b LIMIT 1
    ),
    pos{i} AS (
      SELECT w_id, freq, syms, CAST(j AS BIGINT) AS j, syms[j] AS s
      FROM s{p}, UNNEST(range(1, len(syms) + 1)) AS u(j)
    ),
    cand{i} AS (
      SELECT pos.w_id, pos.j
      FROM pos{i} pos JOIN t{i} t
        ON pos.s = t.a AND pos.j < len(pos.syms) AND pos.syms[pos.j + 1] = t.b
    ),
    mrg{i} AS (
      SELECT w_id, j FROM (
        SELECT w_id, j, j - min(j) OVER (PARTITION BY w_id, grp) AS off
        FROM (SELECT w_id, j,
                     j - row_number() OVER (PARTITION BY w_id ORDER BY j)
                       AS grp
              FROM cand{i})
      ) WHERE off % 2 = 0
    ),
    s{i} AS (
      SELECT pos.w_id, any_value(pos.freq) AS freq,
             list(CASE WHEN m.j IS NOT NULL
                       THEN pos.s || pos.syms[pos.j + 1]
                       ELSE pos.s END ORDER BY pos.j) AS syms
      FROM pos{i} pos
      LEFT JOIN mrg{i} m ON pos.w_id = m.w_id AND pos.j = m.j
      LEFT JOIN mrg{i} m2 ON pos.w_id = m2.w_id AND pos.j = m2.j + 1
      WHERE m2.j IS NULL
      GROUP BY pos.w_id
    )"""
        )
    return "WITH " + ",\n    ".join(ctes)


def _bpe2_oracle() -> str:
    sel = "\n    UNION ALL ".join(
        f"SELECT {i} AS merge_no, a AS left_sym, b AS right_sym, "
        f"a || b AS merged, c AS pair_count FROM t{i}"
        for i in range(1, _BPE2_ROUNDS + 1)
    )
    return _bpe2_sql_ctes() + "\n    " + sel


@query("bpe2_merge_training", oracle=_bpe2_oracle())
def bpe2_merge_training(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three unrolled rounds of REAL BPE tokenizer training (Sennrich
    et al. 2016): count adjacent symbol pairs over the frequency-
    weighted word vocabulary, merge the top pair everywhere
    (left-to-right, non-overlapping — 'aaa' under merge (a,a) becomes
    ['aa','a']), recount on the merged symbols, repeat. bpe1 is the
    single counting kernel; bpe2 closes the loop the way a tokenizer
    trainer actually runs it, emitting the learned merge table
    (rank, pair, merged symbol, weighted count at selection time).

    Determinism: pair counts are exact freq-weighted BIGINTs; the
    per-round winner breaks ties (count DESC, a ASC, b ASC); the
    merge is a pure left-to-right fold — in Spark an array aggregate
    whose accumulator state makes overlap handling automatic (a
    freshly merged 'aa' can't left-match another 'a'), in the oracle
    the equivalent run-parity selection (even offsets within each
    maximal run of candidate positions). An empty round (no pairs
    anywhere) degrades to a no-op on both engines via the
    null-propagating left join, never an empty-join row wipe.

    Scale shape: BPE trains on the DISTINCT-word frequency table —
    vocab-sized, not corpus-sized (the published trick): one corpus
    token shuffle builds w0, and every round after runs on ≤|vocab|
    rows — pair counting is a map-side-combined groupBy on an
    alphabet²-bounded key space, the winner is a LIMIT 1, and the
    merge is a narrow per-row fold with the 1-row winner broadcast.
    At 100 TB only w0 touches the corpus."""
    tops, _ = _bpe2_rounds(spark, sf_dir)
    out = tops[0]
    for t in tops[1:]:
        out = out.unionAll(t)
    return out


def _bpe2_rounds(spark: SparkSession, sf_dir: str):
    """The shared BPE loop: returns (per-round winner DataFrames,
    per-round symbolized word tables [round 0 .. round R]) — bpe2
    surfaces the winners; bpe3 aggregates the word tables."""
    docs = load(spark, sf_dir, "documents")
    w0 = (
        docs.select(F.explode(tokens(F.col("text"))).alias("w"))
        .groupBy("w")
        .agg(F.count("*").cast("long").alias("freq"))
    )
    syms0 = F.transform(
        F.sequence(F.lit(1), F.length(F.col("w"))),
        lambda i: F.col("w").substr(i, F.lit(1)),
    )
    # pin every per-round word table (vocab-bounded) and per-round
    # winner (1 row): bpe3 aggregates EACH round's table twice (symbol
    # sum + distinct-symbol count) and each round chains off the
    # previous, so unpinned tables replay the corpus token explode and
    # the whole merge chain per consumer — the measured mechanism
    # behind bpe2/bpe3's r13 spread losses (guide §3.3; A/B
    # git show 555704a:tools/ab_r14_pin.json)
    cur = pin(w0.select("freq", syms0.alias("syms")))
    rounds = [cur]
    tops = []
    for rnd in range(1, _BPE2_ROUNDS + 1):
        n = F.size(F.col("syms"))
        pair_arr = F.zip_with(
            F.slice(F.col("syms"), 1, F.greatest(n - 1, F.lit(0))),
            F.slice(F.col("syms"), 2, F.greatest(n - 1, F.lit(0))),
            lambda x, y: F.struct(x.alias("a"), y.alias("b")),
        )
        top = pin(
            cur.select("freq", F.explode(pair_arr).alias("p"))
            .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
            .agg(F.sum("freq").cast("long").alias("c"))
            .orderBy(F.col("c").desc(), "a", "b")
            .limit(1)
        )
        tops.append(
            top.select(
                F.lit(rnd).alias("merge_no"),
                F.col("a").alias("left_sym"),
                F.col("b").alias("right_sym"),
                F.concat("a", "b").alias("merged"),
                F.col("c").alias("pair_count"),
            )
        )
        folded = F.aggregate(
            F.col("syms"),
            F.array().cast("array<string>"),
            lambda acc, s: F.when(
                (F.size(acc) > 0)
                & (F.element_at(acc, -1) == F.col("a"))
                & (s == F.col("b")),
                F.concat(
                    F.slice(acc, 1, F.size(acc) - 1),
                    F.array(F.concat(F.col("a"), F.col("b"))),
                ),
            ).otherwise(F.concat(acc, F.array(s))),
        )
        cur = pin(
            cur.join(F.broadcast(top), F.lit(True), "left_outer").select(
                "freq", folded.alias("syms")
            )
        )
        rounds.append(cur)
    return tops, rounds


# --------------------------------------------------------------------------
# bpe3 — tokenizer compression curve over the bpe2 merge rounds
# --------------------------------------------------------------------------


def _bpe3_oracle() -> str:
    sts = []
    for i in range(_BPE2_ROUNDS + 1):
        sts.append(
            f"""st{i} AS (
      SELECT CAST({i} AS BIGINT) AS round,
             CAST(SUM(freq * len(syms)) AS BIGINT) AS corpus_symbols,
             (SELECT CAST(count(DISTINCT sym) AS BIGINT)
              FROM (SELECT unnest(syms) AS sym FROM s{i}) q)
               AS n_distinct_symbols
      FROM s{i}
    )"""
        )
    union = "\n      UNION ALL ".join(
        f"SELECT * FROM st{i}" for i in range(_BPE2_ROUNDS + 1)
    )
    return materialized(
        _bpe2_sql_ctes()
        + ",\n    "
        + ",\n    ".join(sts)
        + f""",
    allst AS ({union}),
    base AS (SELECT corpus_symbols AS c0 FROM st0)
    SELECT round, corpus_symbols, n_distinct_symbols,
           CAST(corpus_symbols AS DOUBLE) / nullif(CAST(c0 AS DOUBLE), 0.0)
             AS compression
    FROM allst CROSS JOIN base"""
    )


@query("bpe3_compression_curve", oracle=_bpe3_oracle())
def bpe3_compression_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-training evaluation: the corpus compression curve of
    bpe2's merge sequence — after each merge round, the total corpus
    symbol count (Σ freq·|symbols(word)|), the distinct-symbol
    vocabulary size, and the compression ratio vs the character
    baseline. THE tradeoff curve a tokenizer trainer actually reads
    (vocab grows by 1 per merge; how much sequence length does each
    merge buy?), and the fertility-style sanity check before shipping
    a merge table (a merge that stops compressing means the alphabet's
    head is exhausted).

    Exactness: symbol counts are exact freq-weighted BIGINTs over the
    same per-round word tables the bpe2 winners come from (shared
    fold, shared oracle CTEs); compression is ONE double division of
    exact integers. An empty corpus yields NULL sums on both engines.

    Scale shape: identical to bpe2 (vocab-sized rounds; only the w0
    token count touches the corpus) plus, per round, one sum over the
    vocab table and one distinct over its exploded symbols — both
    vocab-bounded."""
    _, rounds = _bpe2_rounds(spark, sf_dir)
    outs = []
    for i, cur in enumerate(rounds):
        st = cur.agg(
            F.sum(F.col("freq") * F.size(F.col("syms")))
            .cast("long")
            .alias("corpus_symbols")
        )
        nd = (
            cur.select(F.explode(F.col("syms")).alias("sym"))
            .agg(F.count_distinct("sym").cast("long").alias("n_distinct_symbols"))
        )
        outs.append(
            st.join(F.broadcast(nd)).select(
                F.lit(i).cast("long").alias("round"),
                "corpus_symbols",
                "n_distinct_symbols",
            )
        )
    allst = outs[0]
    for o in outs[1:]:
        allst = allst.unionAll(o)
    base = outs[0].select(F.col("corpus_symbols").alias("c0"))
    return allst.join(F.broadcast(base)).select(
        "round",
        "corpus_symbols",
        "n_distinct_symbols",
        (
            F.col("corpus_symbols").cast("double")
            / F.nullif(F.col("c0").cast("double"), F.lit(0.0))
        ).alias("compression"),
    )


# --------------------------------------------------------------------------
# dq10 — cross-table order-total reconciliation audit (round 10)
# --------------------------------------------------------------------------

_DQ10_SQL = """
WITH recomputed AS (
  SELECT l_orderkey,
         CAST(sum(CAST(round(l_extendedprice * (1 - l_discount)
                             * (1 + l_tax) * 100) AS BIGINT)) AS BIGINT)
           AS r_cents,
         CAST(count(*) AS BIGINT) AS n_lines
  FROM lineitem
  WHERE l_orderkey IS NOT NULL AND l_extendedprice IS NOT NULL
    AND l_discount IS NOT NULL AND l_tax IS NOT NULL
  GROUP BY l_orderkey
),
joined AS (
  SELECT o.o_orderstatus,
         CAST(round(o.o_totalprice * 100) AS BIGINT) AS o_cents,
         r.r_cents
  FROM orders o LEFT JOIN recomputed r ON r.l_orderkey = o.o_orderkey
  WHERE o.o_orderkey IS NOT NULL AND o.o_totalprice IS NOT NULL
)
SELECT o_orderstatus,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(count(*) FILTER (r_cents IS NULL) AS BIGINT)
         AS n_missing_lineitems,
       CAST(count(*) FILTER (r_cents = o_cents) AS BIGINT) AS n_exact,
       CAST(count(*) FILTER (r_cents IS NOT NULL
              AND 100 * abs(r_cents - o_cents) <= o_cents) AS BIGINT)
         AS n_within_1pct,
       CAST(max(abs(r_cents - o_cents)) AS BIGINT) AS max_abs_diff_cents,
       CAST(coalesce(sum(abs(r_cents - o_cents)), 0) AS BIGINT)
         AS total_abs_diff_cents
FROM joined GROUP BY o_orderstatus
"""


@query("dq10_order_reconciliation", oracle=_DQ10_SQL)
def dq10_order_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-table RECONCILIATION audit: recompute every order's total
    from its line items (sum of round-to-cents
    l_extendedprice·(1−l_discount)·(1+l_tax)) and compare against the
    stored o_totalprice — the classic double-entry consistency check
    (TPC-H specifies exactly this derivation for O_TOTALPRICE, §4.2.3
    of the spec) that catches partial loads, lost updates, and
    rounding-policy drift between pipelines writing the two tables.
    Where dq1 checks KEY integrity (orphans) and dq5 diffs snapshots
    of ONE table, dq10 checks VALUE consistency across the
    relationship, reported as a per-status distribution: exact
    matches, within-1%, missing-detail orders, and the worst/total
    absolute drift.

    Exactness: each line quantizes ONCE through the identical
    left-associated IEEE chain ext·(1−disc)·(1+tax)·100 then
    round→BIGINT in both engines (the ab2 exact-cents rule applied
    per addend BEFORE summation, so the sum is integer-exact and
    order-free); the 1% gate cross-multiplies to
    100·|diff| <= o_cents. Orders with no line items count separately
    rather than vanishing (LEFT join + FILTER).

    Scale shape: one map-side-combinable (orderkey) aggregate over
    lineitem, one equi-join on the natural key (co-partitioned /
    bucketed in a real warehouse — zero extra exchange under the
    tests/test_scale_ops.py bucketed layout), one (status) rollup.
    No windows, no fan-out."""
    li = load(spark, sf_dir, "lineitem").filter(
        F.col("l_orderkey").isNotNull()
        & F.col("l_extendedprice").isNotNull()
        & F.col("l_discount").isNotNull()
        & F.col("l_tax").isNotNull()
    )
    recomputed = li.groupBy("l_orderkey").agg(
        F.sum(
            F.round(
                F.col("l_extendedprice")
                * (F.lit(1) - F.col("l_discount"))
                * (F.lit(1) + F.col("l_tax"))
                * 100
            ).cast("long")
        )
        .cast("long")
        .alias("r_cents"),
        F.count("*").cast("long").alias("n_lines"),
    )
    orders = load(spark, sf_dir, "orders").filter(
        F.col("o_orderkey").isNotNull() & F.col("o_totalprice").isNotNull()
    )
    joined = orders.join(
        recomputed,
        orders["o_orderkey"] == recomputed["l_orderkey"],
        "left",
    ).select(
        "o_orderstatus",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("o_cents"),
        "r_cents",
    )
    diff = F.abs(F.col("r_cents") - F.col("o_cents"))
    return joined.groupBy("o_orderstatus").agg(
        F.count("*").cast("long").alias("n_orders"),
        F.count(F.when(F.col("r_cents").isNull(), 1))
        .cast("long")
        .alias("n_missing_lineitems"),
        F.count(F.when(F.col("r_cents") == F.col("o_cents"), 1))
        .cast("long")
        .alias("n_exact"),
        F.count(
            F.when(
                F.col("r_cents").isNotNull()
                & (100 * diff <= F.col("o_cents")),
                1,
            )
        )
        .cast("long")
        .alias("n_within_1pct"),
        F.max(diff).cast("long").alias("max_abs_diff_cents"),
        F.coalesce(F.sum(diff), F.lit(0))
        .cast("long")
        .alias("total_abs_diff_cents"),
    )
