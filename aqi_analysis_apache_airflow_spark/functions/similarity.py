"""Similarity search over embedding columns (``array<float>``).

Exact dot products and cosines (a reproducible decimal form for
surfaced scores, a double form for internal ranking), brute-force
exact top-k (the baseline, and the oracle), and the IVF path: a
deterministic coarse quantizer assigns each vector to one of
``N_CENTROIDS`` centroids, so a probe exact-reranks only the members of
its best ``N_PROBE`` clusters.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .spread import spread_if_narrow

#: IVF centroids over ``embeddings`` and clusters a probe reranks: the
#: probe touches ~N_PROBE/N_CENTROIDS of the corpus.
N_CENTROIDS = 16
N_PROBE = 4
#: Neighbours :func:`ivf_topk` returns.
IVF_K = 50

# Optimization-round r13 note: a fixed-width unrolled element_at form
# of the two dot folds below (64-/16-wide sums behind a size() CASE,
# built as one parsed expression) was implemented and A/B-measured on
# the sf0.1 probe×corpus scan, on the theory that Spark's higher-order
# functions are CodegenFallback and the unroll would compile into
# whole-stage codegen. It measured SLOWER (2-dot scan 6.9s → 7.6s,
# 3-dot cosine 11.0s → 12.7s, interleaved same-JVM medians) — the
# ~400-node decimal expression blows the codegen budget and falls back
# to interpreted CASE evaluation — and was reverted. The real lever
# for these scans is parallelism (see ``spread_if_narrow``): the
# bench corpus arrives as one row group and the whole scorer ran on
# ONE task.


def dot_decimal(a: Column, b: Column) -> Column:
    """Order-independent exact dot product: per-element double products
    rounded once to DECIMAL(28,14) and summed (see plans/extended.py
    for why a double fold is not reproducible).

    The fold itself runs on BIGINT: each quantized product is scaled
    by 10^14 to its exact integer and the accumulator is a plain long
    add — measured 2-3× cheaper than carrying 128-bit decimal state
    through the fold. The surfaced double is IDENTICAL to the
    decimal-summed form, not merely close: the integer sum N is exact
    in int64, and the way OUT of the fold is a single exact decimal
    division — decimal(24,0)/decimal(15,0) → decimal(38,14), which
    represents N/10^14 exactly (≤5 integer digits + 14 fractional) —
    followed by ONE double cast, i.e. one correct rounding of the
    exact value, the same correctly-rounded double a DECIMAL(38,14)
    SUM converts to. (The earlier ``cast(double)/1e14`` form was two
    roundings and diverged by 1 ulp for |N| > 2^53 ≈ dot 90.07 —
    reachable for unnormalized 64-dim N(0,1) self-dots; verified
    against exact Decimal arithmetic over 4k samples spanning
    2^53..2^63.) Every oracle keeps its decimal-summed SQL form.
    Domain bound: the long fold overflows only when Σ|aᵢbᵢ| ≥ ~9.2e4
    (9.2e18 / 10^14) — unreachable for normalized or near-normalized
    embeddings (this corpus' 64-dim N(0,1) vectors peak well under
    10^3); callers with unbounded-magnitude vectors normalize first
    (emb3)."""
    n = F.aggregate(
        F.zip_with(
            a,
            b,
            lambda x, y: (
                (x.cast("double") * y.cast("double")).cast("decimal(28,14)")
                * F.lit(10**14)
            ).cast("long"),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    # exact int64 → exact decimal(38,14) → one correctly-rounded double
    return (n.cast("decimal(24,0)") / F.lit(10**14).cast("decimal(15,0)")).cast(
        "double"
    )


def cosine(a: Column, b: Column) -> Column:
    """NULL when either vector has zero norm: the zero vector has no
    direction, and under ANSI mode the naive division would throw
    DIVIDE_BY_ZERO the first time a blank document or image reaches
    the encoder. Callers ranking by cosine filter the NULLs out
    explicitly (never letting engine-specific NULL/NaN ordering decide
    a top-k)."""
    denom = F.sqrt(dot_decimal(a, a).cast("double")) * F.sqrt(
        dot_decimal(b, b).cast("double")
    )
    # nullif, not when(): a conditional branch would evaluate the two
    # norm folds twice (no subexpression elimination across branches —
    # measured 1.5x on emb4); dividing by NULL yields NULL branch-free
    return F.round(dot_decimal(a, b).cast("double") / F.nullif(denom, F.lit(0.0)), 6)


def dot_fast(a: Column, b: Column) -> Column:
    """Plain double fold over the element products — ~2× cheaper than
    the decimal route. Still fully deterministic for a FIXED pair of
    arrays (the fold is left-to-right in array order, independent of
    partitioning), but its last-ulp bits are not reproducible across
    engines/summation orders — use for internal ranking (cluster
    assignment, probe selection), never for surfaced scores."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def cosine_fast(a: Column, b: Column) -> Column:
    """Unrounded double cosine built on :func:`dot_fast` — internal
    ranking only (see there). NULL-guarded like :func:`cosine` so a
    zero vector can never raise ANSI DIVIDE_BY_ZERO mid-ranking."""
    denom = F.sqrt(dot_fast(a, a)) * F.sqrt(dot_fast(b, b))
    return dot_fast(a, b) / F.nullif(denom, F.lit(0.0))


def brute_force_topk(emb: DataFrame, query: DataFrame, k: int = 50) -> DataFrame:
    """Exact top-k of (vec_id, embedding) rows against a broadcast
    1-row query vector ``qv``. The only wide operation is the final
    TakeOrdered (per-partition heap + driver merge) — no shuffle of
    the corpus."""
    scored = emb.join(F.broadcast(query)).select(
        "vec_id", cosine(F.col("embedding"), F.col("qv")).alias("cosine_sim")
    )
    # zero-norm vectors score NULL (no direction to rank) and are
    # excluded BEFORE the ordering — engine NULL-ordering conventions
    # must never decide a top-k
    return (
        scored.filter(F.col("cosine_sim").isNotNull())
        .orderBy(F.col("cosine_sim").desc(), "vec_id")
        .limit(k)
    )


def ivf_assign(emb: DataFrame) -> tuple[DataFrame, DataFrame]:
    """IVF coarse quantizer over (vec_id, embedding): deterministic
    centroids — hash each id into one of ``N_CENTROIDS`` buckets and
    take, per bucket, the id that minimizes an independent second hash
    (``min_by`` on ``xxhash64(id, 1)``). The double hash matters: min
    over the RAW id would bias every centroid toward globally small ids,
    while the hash-ordered pick is a uniform random representative.
    Reproducible without an iterative k-means fit (swap in trained
    centroids when quality matters), and scale-safe: the selection is
    one map-side-combined groupBy over bare ids — no global ordering, no
    row_number window, no driver-side count. Each vector is then
    assigned to its max-cosine centroid by a PER-ROW argmax over the
    broadcast centroid array: the N_CENTROIDS (centroid_id, cvec, norm)
    structs are collect_list'ed into one row, broadcast-joined onto the
    corpus, and ``array_max`` over ``struct(sim, -id)`` picks the winner
    (ties → smaller centroid_id, deterministically). The corpus is never
    fanned out ×N_CENTROIDS and never shuffled — the assignment is a
    narrow projection on the embeddings scan.

    Returns (centroids, assigned) where assigned = emb + ``cluster``.
    At scale the assigned table is written partitioned BY cluster, so
    a probe reads only its clusters' files.
    """
    # the per-row argmax over N_CENTROIDS dot products is the CPU-heavy
    # stage, and the corpus often arrives as one split — spread it
    # across cores while the natural splits cannot (size-conditional:
    # at production scale the repartition vanishes — spread_if_narrow)
    # zero-norm vectors are unindexable: they have no nearest centroid
    # (every cosine is undefined) and would raise ANSI DIVIDE_BY_ZERO
    # in the assignment — excluded by policy, documented here
    # repartition BEFORE the zero-norm filter: the filter itself is a
    # per-row norm fold, and on a single-split input it would run on
    # one task (r13 optimization; filter/repartition commute row-wise)
    emb = spread_if_narrow(emb).filter(
        dot_fast(F.col("embedding"), F.col("embedding")) > 0
    )
    centroid_ids = (
        emb.select("vec_id")
        .groupBy(
            F.pmod(F.xxhash64("vec_id"), F.lit(N_CENTROIDS)).alias("__bucket")
        )
        .agg(F.min_by("vec_id", F.xxhash64("vec_id", F.lit(1))).alias("vec_id"))
        .select("vec_id")
    )
    centroids = emb.join(F.broadcast(centroid_ids), "vec_id").select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("cvec")
    )
    # one row: [(centroid_id, cvec, ||cvec||), ...] — centroid norms
    # are per-centroid constants, so hoist them out of the per-row loop
    cents_row = centroids.select(
        "centroid_id", "cvec", F.sqrt(dot_fast(F.col("cvec"), F.col("cvec"))).alias("cnorm")
    ).agg(F.collect_list(F.struct("centroid_id", "cvec", "cnorm")).alias("__cents"))
    # r13 optimization: the row norm is PROJECTED once per row instead
    # of being referenced inside the transform lambda — higher-order
    # functions evaluate interpreted with no common-subexpression
    # elimination, so the closed-over norm fold used to re-run once per
    # centroid (×N_CENTROIDS per row). Same expression, same double,
    # evaluated once.
    vnorm = F.sqrt(dot_fast(F.col("embedding"), F.col("embedding")))
    best = F.array_max(
        F.transform(
            F.col("__cents"),
            lambda c: F.struct(
                (
                    dot_fast(F.col("embedding"), c["cvec"])
                    / (F.col("__vnorm") * c["cnorm"])
                ).alias("sim"),
                (-c["centroid_id"]).alias("neg_id"),
            ),
        )
    )
    assigned = (
        emb.withColumn("__vnorm", vnorm)
        .join(F.broadcast(cents_row))
        .select("vec_id", "embedding", (-best["neg_id"]).alias("cluster"))
    )
    return centroids, assigned


def ivf_topk(emb: DataFrame, query: DataFrame) -> DataFrame:
    """IVF approximate top-:data:`IVF_K` of (vec_id, embedding) rows
    against the 1-row ``qv`` query: rank centroids against the query,
    probe the best ``N_PROBE`` clusters, exact-rerank only their
    members — the corpus fraction touched is ~N_PROBE/N_CENTROIDS
    instead of 1 (N_PROBE == N_CENTROIDS would be exact brute force).
    """
    centroids, assigned = ivf_assign(emb)
    probed = (
        centroids.join(F.broadcast(query))
        .select(
            "centroid_id",
            cosine_fast(F.col("cvec"), F.col("qv")).alias("__sim"),
        )
        .orderBy(F.col("__sim").desc(), "centroid_id")
        .limit(N_PROBE)
        .select("centroid_id")
    )
    candidates = assigned.join(
        F.broadcast(probed), assigned.cluster == probed.centroid_id
    )
    return brute_force_topk(candidates, query, IVF_K)
