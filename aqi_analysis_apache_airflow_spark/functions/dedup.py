"""Near-duplicate detection over the documents table (SURVEY.md §7
phase 5; the training-data-pipeline surface the 100 TB deployment
needs).

Three families, all shuffle-conscious:

- **n-gram Jaccard** (exact): explode distinct word shingles, self-join
  on the shingle, count intersections. One shuffle on the shingle key;
  a hot shingle fans out quadratically, so callers cap per-shingle
  document frequency (stop-shingle pruning — standard practice, and at
  100 TB non-negotiable).
- **MinHash + LSH** (approximate): k independent min-hashes per doc
  from one xxhash64 per (shingle, seed); band the signature and
  self-join on (band, band-hash). Collisions are candidates; the
  signature-agreement rate estimates Jaccard. Shuffle is on band
  buckets — bounded by design, no quadratic blowup.
- **SimHash** (approximate, Hamming space): 64-bit sign-aggregated
  token hashes; near-dups collide on 16-bit bands (Hamming ≤ 3 within
  64 bits ⇒ at least one of 4 bands equal, by pigeonhole).

Everything is pure column expressions — no Python UDFs anywhere.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .spread import spread_if_narrow

TOKEN_RE = r"\S+"

#: Words per shingle of every near-dup function over ``documents``.
SHINGLE_K = 3
#: MinHash signature length. The minhash functions and the LSH pair
#: functions must agree on it, so they share it.
N_HASHES = 32
#: LSH bands per signature (``N_HASHES // BANDS`` components each).
BANDS = 8
#: Most label-propagation rounds of :func:`connected_components`.
CC_MAX_ROUNDS = 50


def tokens(text: Column) -> Column:
    return F.regexp_extract_all(text, F.lit(TOKEN_RE), 0)


def ce_hash64(col: Column) -> Column:
    """Cross-engine 64-bit hash: the first 16 hex chars of ``md5``,
    reinterpreted as a signed 64-bit integer (high and low 32-bit
    halves assembled with bitwise shift/or — no overflow-checked
    arithmetic, so it is safe under ANSI mode).

    Slower than ``xxhash64`` but bit-identical in any engine that has
    ``md5`` (DuckDB, Trino, Postgres): this is the hash family that
    makes the simhash/minhash surfaces oracle-VERIFIABLE instead of
    merely unit-tested. Production paths keep xxhash64; the
    ``*_md5``-family registry queries use this.
    """
    return hex16_to_long(F.md5(col), 1)


def hex16_to_long(hx: Column, start: int) -> Column:
    """16 hex chars at 1-based ``start`` → signed 64-bit long (bitwise
    assembly of the two 32-bit halves — no overflow-checked arithmetic,
    ANSI-safe)."""
    hi = F.conv(F.substring(hx, start, 8), 16, 10).cast("long")
    lo = F.conv(F.substring(hx, start + 8, 8), 16, 10).cast("long")
    return F.shiftleft(hi, 32).bitwiseOR(lo)


# The DuckDB-side twin of hex16_to_long, as a format template over a
# hex-string SQL expression ({h}) and a 1-based offset ({off}: 1 for
# md5's high half, 17 for the low half). Signed reinterpretation:
# DuckDB's << overflow-checks BIGINT, so the high 32 bits are re-biased
# arithmetically instead.
CE_HASH64_HALF_SQL = (
    "((('0x'||substr({h},{off},8))::BIGINT"
    " - CASE WHEN ('0x'||substr({h},{off},8))::BIGINT >= 2147483648"
    "   THEN 4294967296 ELSE 0 END) * 4294967296"
    " + ('0x'||substr({h},{off8},8))::BIGINT)"
)


def ce_half_sql(h: str, start: int = 1) -> str:
    return CE_HASH64_HALF_SQL.format(h=h, off=start, off8=start + 8)


CE_HASH64_SQL = CE_HASH64_HALF_SQL.format(h="{h}", off=1, off8=9)


def word_shingles(text: Column, k: int = 3, *, distinct: bool = True) -> Column:
    """Distinct k-word shingles; fewer than k tokens → empty array.
    ``distinct=False`` keeps multiplicity (for tf-weighted consumers
    like cos1; the Jaccard/minhash family is set-based and keeps the
    default).

    Built as a ``zip_with`` chain over k shifted ``slice`` views of the
    token array — the whole shingle list comes from k array scans and
    per-element string concats. The earlier ``transform(sequence,
    array_join(slice(toks, i, k)))`` form re-evaluated the token
    expression inside the per-element lambda and measured ~5× slower
    (5.1s → 1.1s for the sf0.1 shingle explode); the nested-``get``
    form before that was worse still.
    """
    toks = tokens(text)
    n = F.size(toks)
    length = F.greatest(n - (k - 1), F.lit(0))
    parts = F.slice(toks, 1, length)
    for j in range(2, k + 1):
        parts = F.zip_with(
            parts,
            F.slice(toks, j, length),
            lambda a, b: F.concat(a, F.lit(" "), b),
        )
    shingled = F.array_distinct(parts) if distinct else parts
    return F.when(n >= k, shingled).otherwise(F.array().cast("array<string>"))


def exploded_shingles(docs: DataFrame) -> DataFrame:
    """(doc_id, shingle) pairs. The shingle transform is the CPU-heavy
    part of every near-dup pipeline, so parallelize it across cores even
    when the input arrives as one split (the bench corpus is a single
    row group — without this the whole explode runs on one task; at
    production scale the natural splits suffice and the repartition
    vanishes — ``spread_if_narrow``)."""
    return (
        spread_if_narrow(docs.select("doc_id", "text"))
        .select(
            F.col("doc_id"),
            F.explode(word_shingles(F.col("text"), SHINGLE_K)).alias("shingle"),
        )
    )


def capped_pair_counts(
    sh: DataFrame, max_doc_freq: int
) -> tuple[DataFrame, DataFrame]:
    """The capped (stop-shingle-pruned) pair machinery, exposed for
    every consumer that needs raw intersection counts rather than a
    finished Jaccard (jaccard = inter/union, containment = inter/|A|):
    aggregate ONCE to (shingle → sorted doc set), drop sets larger
    than ``max_doc_freq``, and enumerate the ≤ C(cap, 2) pairs per
    shingle locally from the bounded array — the expensive shingle
    explode never self-joins.

    Returns ``(inter, sizes)``: ``inter`` = (doc_a < doc_b, inter)
    intersection counts over the capped shingle universe; ``sizes`` =
    (doc_id, set_size) capped set sizes per doc.
    """
    grouped = (
        sh.groupBy("shingle")
        .agg(F.array_sort(F.collect_set("doc_id")).alias("docs"))
        .filter(F.size("docs") <= max_doc_freq)
    )
    capped = grouped.select(F.explode("docs").alias("doc_id"))
    sizes = capped.groupBy("doc_id").agg(F.count("*").alias("set_size"))
    pair_structs = F.expr(
        "flatten(transform(docs, (x, i) -> "
        "transform(slice(docs, i + 2, size(docs)), "
        "y -> struct(x AS doc_a, y AS doc_b))))"
    )
    inter = (
        grouped.select(F.explode(pair_structs).alias("p"))
        .select("p.doc_a", "p.doc_b")
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("inter"))
    )
    return inter, sizes


def ngram_jaccard_pairs(
    docs: DataFrame,
    threshold: float = 0.5,
    max_doc_freq: int | None = None,
    allow_quadratic: bool = False,
) -> DataFrame:
    """Exact Jaccard over ``SHINGLE_K``-word shingle sets for every
    candidate pair.

    ``max_doc_freq`` drops shingles shared by more than that many docs
    (stop-shingles): they contribute little discrimination but dominate
    the self-join cost. Output: doc_a < doc_b, jaccard.

    Two physical strategies for the same logical result:

    - capped: aggregate ONCE to (shingle → sorted doc set), filter by
      set size, and enumerate pairs from the bounded array (≤ C(cap,2)
      per shingle). The expensive shingle explode runs exactly once.
    - uncapped: shingle-keyed self-join — a hot shingle's pair list
      may not fit in one array, so fan-out must stream through the
      join. Pathological on low-entropy corpora (a shingle shared by
      m docs emits C(m,2) rows), so the uncapped branch is opt-in:
      callers must say ``allow_quadratic=True`` to get it — the
      documented oracle-baseline use — and everything else sets a cap.
    """
    if max_doc_freq is None and not allow_quadratic:
        raise ValueError(
            "ngram_jaccard_pairs without max_doc_freq is quadratic in the "
            "hottest shingle's document frequency; pass max_doc_freq=<cap> "
            "(stop-shingle pruning, the scale path) or opt in explicitly "
            "with allow_quadratic=True (oracle-baseline use only)"
        )
    sh = exploded_shingles(docs)
    if max_doc_freq is not None:
        inter, sizes = capped_pair_counts(sh, max_doc_freq)
    else:
        sizes = sh.groupBy("doc_id").agg(F.count("*").alias("set_size"))
        a = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
        b = sh.select(F.col("doc_id").alias("doc_b"), "shingle")
        inter = (
            a.join(b, "shingle")
            .filter(F.col("doc_a") < F.col("doc_b"))
            .groupBy("doc_a", "doc_b")
            .agg(F.count("*").alias("inter"))
        )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("set_size").alias("size_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("set_size").alias("size_b"))
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (
                F.col("inter").cast("double")
                / (F.col("size_a") + F.col("size_b") - F.col("inter"))
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def exact_jaccard_for_pairs(docs: DataFrame, pairs: DataFrame) -> DataFrame:
    """Exact ``SHINGLE_K``-word-shingle Jaccard for a GIVEN set of
    candidate pairs (columns ``doc_a``, ``doc_b``) — the verification
    stage after an approximate candidate generator (LSH bands,
    simhash).

    Scale shape: shingle ARRAYS are computed only for docs that appear
    in some candidate pair (semi-join pushdown), then joined whole to
    the pair table and intersected per-row with ``array_intersect`` —
    cost is O(Σ pair shingle sizes) inside whole-stage codegen, linear
    in candidate volume, never corpus-quadratic. This replaces the
    earlier explode-and-probe form (pairs ⋈ exploded(A) ⋈ exploded(B)
    → groupBy pair): same asymptotics, but the array form ships the
    same bytes through TWO id-keyed joins and zero extra aggregation,
    where the probe form paid a |pairs|×|shingles/doc| row shuffle
    plus a groupBy — measured 2.8s → 1.1s on snm1's 29k-pair verify at
    sf0.1, with d3v/d8 improving the same way. Pairs with an EMPTY
    intersection are dropped (``inter >= 1``), matching the inner
    probe-join semantics every caller and oracle was built against.
    ``pairs`` is persisted first: it is typically the output of a full
    LSH pipeline and is consumed twice below (both array-attach sides).
    Duplicate candidate rows are collapsed here (``distinct()`` on the
    two-column projection, cheap next to the persist): the old
    explode-probe form's groupBy(doc_a, doc_b) de-duplicated pairs as
    a side effect, and that one-row-per-pair contract is part of this
    function's interface — callers (d3v, d8, snm1) must not depend on
    pre-distinct inputs for parity row counts.
    """
    from pyspark import StorageLevel

    pairs = (
        pairs.select("doc_a", "doc_b")
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    cand_ids = (
        pairs.select(F.col("doc_a").alias("doc_id"))
        .union(pairs.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    sets = spread_if_narrow(
        docs.join(cand_ids, "doc_id", "left_semi")
    ).select(
        F.col("doc_id"),
        word_shingles(F.col("text"), SHINGLE_K).alias("sh"),
    )
    sa = sets.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    sb = sets.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            inter.alias("inter"),
            (F.size("sh_a") + F.size("sh_b")).alias("sz_sum"),
        )
        .filter(F.col("inter") >= 1)
        .select(
            "doc_a",
            "doc_b",
            (
                F.col("inter").cast("double")
                / (F.col("sz_sum") - F.col("inter"))
            ).alias("jaccard"),
        )
    )


#: low-32-bit mask as a long literal (bit ops never overflow-check)
_MASK32 = 0xFFFFFFFF


def _md5_halves(sh: DataFrame, keep_shingle: bool = False) -> DataFrame:
    """One md5 per shingle, split into FOUR unsigned 32-bit halves
    held in longs (__hi1/__lo1 = the h1 word, __hi2/__lo2 = h2) — the
    representation :func:`_km_sql` needs. The conv() calls run once
    per shingle here instead of once per (shingle, seed).
    ``keep_shingle`` carries the raw shingle through for callers that
    also hash it with another family (the fused dual-family path)."""
    keep = ["doc_id"] + (["shingle"] if keep_shingle else [])
    return sh.selectExpr(
        *keep, "md5(shingle) AS __hx"
    ).selectExpr(
        *keep,
        "CAST(conv(substring(__hx, 1, 8), 16, 10) AS BIGINT) AS __hi1",
        "CAST(conv(substring(__hx, 9, 8), 16, 10) AS BIGINT) AS __lo1",
        "CAST(conv(substring(__hx, 17, 8), 16, 10) AS BIGINT) AS __hi2",
        "CAST(conv(substring(__hx, 25, 8), 16, 10) AS BIGINT) AS __lo2",
    )


def _km_sql(i: int, p: str = "") -> str:
    """Kirsch–Mitzenmacher ``(h1 + i·h2) mod 2^64`` (signed
    reinterpretation) in PURE LONG ARITHMETIC over the 32-bit halves
    ``__hi1{p}/__lo1{p}/__hi2{p}/__lo2{p}`` — bit-identical to the
    earlier decimal(38,0) pmod formulation but ~an order of magnitude
    cheaper per value (BigDecimal modular arithmetic → a few long
    mul/add/shift ops inside whole-stage codegen).

    ANSI-safe by construction: with i < 2^6 and every half < 2^32,
    the largest intermediate (``i·lo2``) stays under 2^38, so no
    checked add/multiply can overflow; the mod-2^64 wraparound happens
    in the final ``shiftleft``/``|`` assembly, which are bit ops ANSI
    never checks. The DuckDB oracle keeps its HUGEINT formulation —
    matching it is exactly what the d3m hash gate proves.

    Returned as a SQL STRING for ``selectExpr``, not a Column tree:
    building 32–64 of these per query through the Column API costs
    thousands of py4j round trips (measured 2–6s of driver time per
    d3 run — more than the query's execution); one selectExpr ships
    every expression to Catalyst in a single call."""
    m = _MASK32
    lop = f"({i} * __lo2{p})"
    lo_sum = f"(__lo1{p} + ({lop} & {m}))"
    hi_prod = f"((({i} * __hi2{p}) + shiftright({lop}, 32)) & {m})"
    hi_sum = f"((__hi1{p} + {hi_prod} + shiftright({lo_sum}, 32)) & {m})"
    return f"(shiftleft({hi_sum}, 32) | ({lo_sum} & {m}))"


def _xx_halves_sql(seed: int, name: str) -> list[str]:
    """Split ``xxhash64(shingle, seed)`` into unsigned 32-bit halves
    (``__hi{name}``/``__lo{name}``) — pure bit ops, never
    overflow-checked. SQL strings for selectExpr (see _km_sql)."""
    h = f"xxhash64(shingle, {seed})"
    return [
        f"shiftrightunsigned({h}, 32) AS __hi{name}",
        f"({h} & {_MASK32}) AS __lo{name}",
    ]


def minhash_signatures(docs: DataFrame, hash_family: str = "xxhash64") -> DataFrame:
    """One row per doc with ``sig: array<bigint>`` of length ``N_HASHES``.

    Hash families (both deterministic across runs and partitionings):

    - ``"xxhash64"`` (default): ``xxhash64(shingle, seed=i)`` — the
      fast production path.
    - ``"md5"``: ONE md5 per shingle split into 64-bit halves
      (h1, h2), then Kirsch–Mitzenmacher double hashing
      ``h_i = (h1 + i·h2) mod 2^64`` in exact DECIMAL arithmetic
      (ANSI-safe — long multiply would overflow-check) — reproducible
      in any md5-equipped engine, which lets the DuckDB oracle
      recompute the exact signatures via HUGEINT (see
      ``d3m_minhash_md5``). Measured ~6× cheaper than 32 independent
      md5 calls per shingle.

    Aggregation is a groupBy(doc) of per-shingle minima: map-side
    combine collapses most of the data before the single shuffle.
    Building signatures under SEVERAL hash families from one shingle
    scan is :func:`minhash_signatures_families`.
    """
    sh = exploded_shingles(docs)
    if hash_family == "xxhash64":
        sh = sh.selectExpr(
            "doc_id",
            *[f"xxhash64(shingle, {i}) AS __hv{i}" for i in range(N_HASHES)],
        )
    elif hash_family == "md5":
        sh = _md5_halves(sh)
        sh = sh.selectExpr(
            "doc_id", *[f"{_km_sql(i)} AS __hv{i}" for i in range(N_HASHES)]
        )
    else:
        raise ValueError(f"unknown hash_family {hash_family!r}")
    mins = sh.groupBy("doc_id").agg(
        *[F.expr(f"min(__hv{i}) AS h{i}") for i in range(N_HASHES)]
    )
    return mins.selectExpr(
        "doc_id",
        "array(" + ", ".join(f"h{i}" for i in range(N_HASHES)) + ") AS sig",
    )


def minhash_signatures_families(docs: DataFrame) -> DataFrame:
    """BOTH hash families' signatures from ONE shingle scan and ONE
    groupBy: rows (doc_id, family, sig) with family ∈ {"xxhash64", "md5"}.
    The md5 family is bit-identical to
    ``minhash_signatures(hash_family="md5")`` (what the DuckDB oracle
    replays); the "xxhash64" family is Kirsch–Mitzenmacher double
    hashing seeded from two xxhash64 words — a faster derivation than
    the 32-independent-xxhash family of :func:`minhash_signatures`
    (2 string hashes + 32 long-math steps vs 32 string hashes), and
    still fully independent of the md5 family, which is all the
    agreement check needs.

    The point is d3's family-agreement query: computing the two
    families separately costs two shingle explodes (or one persisted
    explode read twice) and two min-aggregation shuffles. Here both
    families' hash columns ride the same select, one groupBy takes
    all 2·N_HASHES minima map-side-combined, and the per-family rows
    come from a 2-way struct explode of the single aggregated row —
    the dual-family signature table costs one shuffle, the same as a
    single family.
    """
    sh = exploded_shingles(docs)
    # the production family is ALSO Kirsch–Mitzenmacher, seeded from
    # two xxhash64 words: 2 string hashes + 32 long-math derivations
    # instead of 32 string hashes (~4× cheaper per shingle, the
    # standard production double-hashing shape; the md5 family
    # provides the independent cross-check)
    base = _md5_halves(sh, keep_shingle=True).selectExpr(
        "*",
        *_xx_halves_sql(0, "1x"),
        *_xx_halves_sql(1, "2x"),
    )
    hv = base.selectExpr(
        "doc_id",
        *[f"{_km_sql(i, 'x')} AS __x{i}" for i in range(N_HASHES)],
        *[f"{_km_sql(i)} AS __m{i}" for i in range(N_HASHES)],
    )
    mins = hv.groupBy("doc_id").agg(
        *[F.expr(f"min(__x{i}) AS x{i}") for i in range(N_HASHES)],
        *[F.expr(f"min(__m{i}) AS m{i}") for i in range(N_HASHES)],
    )
    xs = ", ".join(f"x{i}" for i in range(N_HASHES))
    ms = ", ".join(f"m{i}" for i in range(N_HASHES))
    return mins.selectExpr(
        "doc_id",
        "explode(array("
        f"named_struct('family', 'xxhash64', 'sig', array({xs})), "
        f"named_struct('family', 'md5', 'sig', array({ms})))) AS fs",
    ).select("doc_id", "fs.family", "fs.sig")


def _banded(
    signatures: DataFrame, band_key: str, group_col: str | None = None
) -> DataFrame:
    """(doc_id, [group], sig, band_id, band_hash) — one row per
    signature band, ``BANDS`` bands of ``N_HASHES // BANDS``
    components. ``band_key="hash"`` buckets on a 32-bit hash of the
    slice (smallest shuffle payload; collisions only add candidates),
    ``"slice"`` on the raw slice array (zero collisions, what the
    oracle-verified md5-family queries need). ``group_col`` (d3's hash
    family) is carried through untouched: d3 joins it into the bucket
    key, so several independent LSH runs share one self-join shuffle
    without ever colliding across groups."""
    rows_per_band = N_HASHES // BANDS
    if band_key == "hash":
        key_of = lambda sl: F.hash(sl)
    elif band_key == "slice":
        key_of = lambda sl: sl
    else:
        raise ValueError(f"unknown band_key {band_key!r}")
    keep = ["doc_id"] + ([group_col] if group_col else [])
    return signatures.select(
        *keep,
        "sig",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band_id"),
                        key_of(
                            F.slice(F.col("sig"), i * rows_per_band + 1, rows_per_band)
                        ).alias("band_hash"),
                    )
                    for i in range(BANDS)
                ]
            )
        ).alias("b"),
    ).select(*keep, "sig", "b.band_id", "b.band_hash")


def lsh_delta_candidate_pairs(signatures: DataFrame, is_delta) -> DataFrame:
    """INCREMENTAL LSH candidate generation: pairs that touch the
    delta (new docs), skipping base×base entirely — the daily-ingest
    shape of near-dup dedup. The banded delta side joins against the
    full banded table, so candidate work scales with
    |delta| × bucket occupancy instead of corpus²; in production the
    base side's signatures come precomputed from the signature store
    and only the delta pays the shingle+minhash cost.

    ``is_delta`` — a Column-predicate factory applied to ``doc_id``.
    Bands bucket on a hash of the slice (``band_key="hash"`` of
    :func:`lsh_candidate_pairs`).
    Output: (doc_a < doc_b) bare id pairs where at least one side is in
    the delta, deduped (delta×delta pairs arise in both orientations
    and collapse here); feed to :func:`exact_jaccard_for_pairs`.
    """
    from pyspark import StorageLevel

    signatures = signatures.persist(StorageLevel.MEMORY_AND_DISK)
    banded = _banded(signatures, "hash")
    d = banded.filter(is_delta(F.col("doc_id"))).select(
        F.col("doc_id").alias("__doc_d"), "band_id", "band_hash"
    )
    o = banded.select(F.col("doc_id").alias("__doc_o"), "band_id", "band_hash")
    return (
        d.join(o, ["band_id", "band_hash"])
        .filter(F.col("__doc_d") != F.col("__doc_o"))
        .select(
            F.least("__doc_d", "__doc_o").alias("doc_a"),
            F.greatest("__doc_d", "__doc_o").alias("doc_b"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
    )


def lsh_candidate_pairs(
    signatures: DataFrame, band_key: str = "hash", include_estimate: bool = True
) -> DataFrame:
    """Band the signature and self-join on the band bucket.

    Output: doc_a < doc_b [, est_jaccard (fraction of agreeing
    signature components) unless ``include_estimate=False``]. The join
    key is the band bucket, so work scales with bucket occupancy, not
    the corpus square.

    The bands slice the signature by the module constants ``N_HASHES``
    and ``BANDS``, which :func:`minhash_signatures` builds to, so plan
    construction never triggers a Spark action (a ``first()`` here
    would execute the whole minhash aggregation once just to learn the
    array length, then recompute it in the main query).

    ``band_key="hash"`` joins on a 32-bit hash of the band slice —
    smallest shuffle payload, the production default (a hash collision
    adds a spurious CANDIDATE, never a wrong result, since candidates
    are verified downstream). ``band_key="slice"`` joins on the raw
    slice array — zero collisions, which is what the oracle-verified
    md5-family query needs for exact parity with DuckDB.

    ``include_estimate=False`` skips re-attaching signatures entirely —
    the right mode when candidates feed an exact verifier anyway
    (see :func:`exact_jaccard_for_pairs`), saving two joins.

    The signature table is PERSISTED (memory, spilling to disk): the
    plan below is a diamond — both sides of the band self-join plus
    both est_jaccard re-attach joins read it, and without
    materialization Spark recomputes the full shingle-explode + 32-min
    aggregation once per consumer (measured ~2× end-to-end on the
    bench corpus). At 100 TB the same materialization happens as a
    checkpoint of the signature table before the join, not a
    recompute-4× plan.

    PERSIST SCOPE: the cache lives until the session drops it — it
    cannot be unpersisted here because the returned plan is lazy and
    still reads it. A process that runs MANY queries on one session
    (bench, the parity sweep) should ``spark.catalog.clearCache()``
    between queries so per-query caches don't accumulate; bench.py
    does exactly that.
    """
    from pyspark import StorageLevel

    signatures = signatures.persist(StorageLevel.MEMORY_AND_DISK)
    banded = _banded(signatures, band_key)
    # candidate pairs are deduped as BARE id pairs — carrying the
    # signature arrays through the band join + dropDuplicates shuffle
    # multiplies shuffle volume ~30× (measured 17s → 4s at sf0.1).
    # Signatures re-attach afterwards WITHOUT a broadcast hint: the
    # signature table is O(corpus) and would not fit in executor
    # memory at 100 TB — AQE broadcasts it when it is actually small
    # and falls back to a shuffle join when it isn't.
    a = banded.select(F.col("doc_id").alias("doc_a"), "band_id", "band_hash")
    b = banded.select(F.col("doc_id").alias("doc_b"), "band_id", "band_hash")
    pairs = (
        a.join(b, ["band_id", "band_hash"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .dropDuplicates(["doc_a", "doc_b"])
    )
    if not include_estimate:
        return pairs
    sig_a = signatures.select(
        F.col("doc_id").alias("doc_a"), F.col("sig").alias("sig_a")
    )
    sig_b = signatures.select(
        F.col("doc_id").alias("doc_b"), F.col("sig").alias("sig_b")
    )
    pairs = pairs.join(sig_a, ["doc_a"]).join(sig_b, ["doc_b"])
    agree = F.size(
        F.filter(
            F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda eq: eq
        )
    )
    n = F.size(F.col("sig_a"))
    return pairs.select(
        "doc_a", "doc_b", (agree.cast("double") / n).alias("est_jaccard")
    )


def connected_components(pairs: DataFrame) -> DataFrame:
    """Connected components over an undirected pair list (columns
    ``doc_a``, ``doc_b``) by iterative min-label propagation — the
    stage that turns near-duplicate PAIRS into duplicate CLUSTERS so a
    pipeline can keep one canonical doc per cluster.

    Returns (doc_id, cluster_id) for every doc in some pair, where
    cluster_id = the smallest doc_id in the component (deterministic).

    Scale shape: each iteration is one groupBy over the symmetric edge
    list (map-side combined) plus a label join — the standard
    large-graph label propagation, converging in O(component diameter)
    rounds, which for near-dup graphs is tiny (dup clusters are dense
    cliques, diameter ≲ 3). The driver-side convergence check is one
    count per round — this is a genuinely iterative algorithm, the
    sanctioned use of a driver loop. Each round ``localCheckpoint``s
    its label table (the kcore2/lpa_semisync lineage-truncation rule:
    one_round references the labels twice, so persist-only rounds
    grow the logical tree 4× per iteration and pay Catalyst
    re-analysis on every action — A/B at sf0.1, 4 passes each,
    2026-08-15: persist 2.86-3.37s warm vs checkpoint 2.35-2.56s on
    d6; the mid-round table checkpoints lazily, it has two consumers
    inside the same job). The edge list is released at convergence
    (the returned labels are a materialized LogicalRDD leaf, so
    dropping edges cannot trigger a recompute); checkpointed rounds
    are ContextCleaner-released when unreferenced. At cluster scale
    swap for a reliable ``checkpoint()`` — the kcore_peel note
    applies verbatim.
    """
    from pyspark import StorageLevel

    # no .distinct() on the symmetric union: min-label propagation is
    # idempotent under duplicate edges (the per-round groupBy takes a
    # MIN — multiplicity cannot change it), so deduplicating the edge
    # list would spend a full shuffle to buy nothing. Callers pass the
    # pair-aggregation output (unique doc_a < doc_b) anyway.
    #
    # SIZE the working set's partitioning from the measured pair count
    # (one control-plane scalar — the same sanctioned read as the
    # convergence flag; it also pre-fills the caller's pair cache that
    # round 1 would have filled anyway). A near-dup pair graph is
    # orders of magnitude smaller than its corpus, and iterating over
    # it in the corpus' partitioning is pure scheduling overhead: at
    # sf0.1 the 256-pair graph inherited 64 cached partitions, making
    # every round ~300 near-empty tasks (~4s of a 4.3s query). AQE
    # coalesces exchanges but cannot re-layout an InMemoryRelation, so
    # the repartition before persist is the one place to right-size
    # it: ~500k edges per partition, capped at the session's shuffle
    # parallelism so a billion-edge graph still fans out fully.
    n_pairs = pairs.count()
    n_conf = int(
        pairs.sparkSession.conf.get("spark.sql.shuffle.partitions")
    )
    n_part = max(1, min(n_conf, (2 * n_pairs) // 500_000 + 1))
    edges = (
        pairs.select("doc_a", "doc_b")
        .union(
            pairs.select(
                F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b")
            )
        )
        .repartition(n_part, "doc_b")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    labels = (
        edges.select(F.col("doc_a").alias("doc_id"))
        .distinct()
        .withColumn("cluster_id", F.col("doc_id"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    def one_round(lb: DataFrame) -> DataFrame:
        # fold the convergence flag into the SAME select — the label
        # shrank iff a neighbor's label beat the current one — so the
        # driver check is one aggregate over the newly persisted
        # labels instead of a second join+count job
        neighbor_min = (
            edges.join(
                lb.select(
                    F.col("doc_id").alias("doc_b"),
                    F.col("cluster_id").alias("__nl"),
                ),
                "doc_b",
            )
            .groupBy("doc_a")
            .agg(F.min("__nl").alias("__nmin"))
            .select(F.col("doc_a").alias("doc_id"), "__nmin")
        )
        return lb.join(neighbor_min, "doc_id", "left_outer").select(
            "doc_id",
            F.least(
                F.col("cluster_id"), F.coalesce(F.col("__nmin"), F.col("cluster_id"))
            ).alias("cluster_id"),
            (F.coalesce(F.col("__nmin") < F.col("cluster_id"), F.lit(False))).alias(
                "__ch"
            ),
        )

    # TWO propagation rounds per driver action: checking only the
    # second round's flag is still a sound stopping rule (flag false
    # means a full no-change round occurred, the fixed point), and it
    # halves the job-submission overhead that dominates on the small
    # dense graphs near-dup clusters produce. The mid-round result is
    # persisted lazily — it has two consumers inside the same job.
    for _ in range(CC_MAX_ROUNDS // 2):
        mid = one_round(labels).localCheckpoint(eager=False)
        new_labels = one_round(mid).localCheckpoint()
        changed = new_labels.agg(F.max("__ch")).collect()[0][0]
        labels = new_labels
        if not changed:
            break
    edges.unpersist()
    return labels.select("doc_id", "cluster_id")


def simhash_fingerprints(docs: DataFrame) -> DataFrame:
    """One row per doc with its 64-bit SimHash: per-token
    :func:`ce_hash64`, each bit votes ±1, the sign of the per-bit sum
    becomes the fingerprint bit.

    Physical shape: explode tokens once, hash each token ONCE as a
    whole-stage-codegen long expression, then ONE groupBy(doc) with 64
    sum columns (map-side combined before the single shuffle). The
    tempting alternative — 64 ``F.aggregate`` lambda folds over a
    per-row token array — runs interpreted and measured ~50× slower on
    the bench corpus (84s → 1.6s at sf0.1).

    Token hash is the md5-derived cross-engine family (not xxhash64)
    so the DuckDB oracle can recompute identical fingerprints — the
    whole simhash surface is hash-match-verified, not just unit-tested.

    Token-less docs produce no rows (no tokens to vote), which also
    keeps the degenerate all-zeros fingerprint — every empty doc
    "matching" every other — out of the pair join.
    """
    th = (
        spread_if_narrow(docs.select("doc_id", "text"))
        .select(F.col("doc_id"), F.explode(tokens(F.col("text"))).alias("__tok"))
        .select(F.col("doc_id"), ce_hash64(F.col("__tok")).alias("__th"))
    )
    # votes as popcounts: ones_i = Σ bit_i(hash); the ±1 vote sum is
    # 2·ones_i − n, so "vote > 0" ⟺ 2·ones_i > n. Built as SQL-string
    # expressions: 64 aggregates + 64 conditional terms composed with
    # the Column API cost ~5s of per-query py4j round-trips on the
    # DRIVER alone — one parsed expr string each is milliseconds.
    votes = th.groupBy("doc_id").agg(
        F.expr("count(*) AS __n"),
        *[
            F.expr(f"sum(shiftrightunsigned(__th, {i}) & 1L) AS o{i}")
            for i in range(64)
        ],
    )
    fp = " + ".join(
        f"IF(2 * o{i} > __n, shiftleft(1L, {i}), 0L)" for i in range(64)
    )
    return votes.select(F.col("doc_id"), F.expr(f"{fp} AS simhash"))


def simhash_band_pairs(docs: DataFrame, max_hamming: int = 3) -> DataFrame:
    """Candidate near-dup pairs by 16-bit SimHash bands (pigeonhole:
    Hamming ≤ 3 over 64 bits ⇒ ≥1 of 4 bands identical), verified with
    the exact Hamming distance.

    Fingerprints are persisted for the same diamond-plan reason as
    :func:`lsh_candidate_pairs` — both sides of the band self-join
    would otherwise recompute the whole tokenize+hash+vote pipeline.
    """
    from pyspark import StorageLevel

    sh = simhash_fingerprints(docs).persist(StorageLevel.MEMORY_AND_DISK)
    banded = sh.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band_id"),
                        F.shiftrightunsigned(F.col("simhash"), i * 16)
                        .bitwiseAND(F.lit(0xFFFF))
                        .alias("band_val"),
                    )
                    for i in range(4)
                ]
            )
        ).alias("b"),
    ).select("doc_id", "simhash", "b.band_id", "b.band_val")
    a = banded.select(
        F.col("doc_id").alias("doc_a"),
        F.col("simhash").alias("sim_a"),
        "band_id",
        "band_val",
    )
    b = banded.select(
        F.col("doc_id").alias("doc_b"),
        F.col("simhash").alias("sim_b"),
        "band_id",
        "band_val",
    )
    pairs = (
        a.join(b, ["band_id", "band_val"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "sim_a", "sim_b")
        .dropDuplicates(["doc_a", "doc_b"])
    )
    hamming = F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b")))
    return pairs.select("doc_a", "doc_b", hamming.alias("hamming")).filter(
        F.col("hamming") <= max_hamming
    )
