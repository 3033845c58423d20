"""Iterative graph algorithms over edge-list DataFrames.

:func:`connected_components` (in :mod:`.dedup`) labels duplicate
clusters; PageRank here ranks them — e.g. picking the canonical doc of
a near-dup cluster by link authority instead of smallest-id, or
scoring crawl frontiers. Same execution contract as components: each
iteration is one groupBy + one join over the edge list, per-round
persist with eager release of the previous round, driver loop only for
the fixed iteration count (the sanctioned iterative-algorithm shape —
no data ever reaches the driver).

Determinism: the recurrence runs in FIXED-POINT integer arithmetic —
ranks are BIGINT multiples of 1e-12, every division is integral, and
the damping factor is a rational (85/100). No float touches any
intermediate, so there is nothing to round and nothing engine-specific
to diverge: any engine that replays the integer recurrence (the DuckDB
oracle unrolls it as chained CTEs) matches bit-for-bit. The earlier
double-based formulation failed exactly here — Spark rounds a double
via its shortest decimal representation while DuckDB rounds the binary
value, and at one-in-a-few-thousand rank values the 12th digit split.
Floats only appear on the way OUT, if a caller casts for display.
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: fixed-point scale: ranks are integer multiples of 1e-12
ONE_E12 = 10**12

#: Runaway backstop of :func:`kcore_peel`'s fixed-point mode.
KCORE_MAX_ROUNDS = 100

#: Synchronous rounds :func:`lpa_propagate` replays (lpa1 and its
#: oracle's unrolled CTEs).
LPA_ROUNDS = 3

#: Backstop of :func:`lpa_semisync`'s convergence loop (lpa2 and its
#: oracle's recursion guard).
LPA_MAX_ROUNDS = 40


def pagerank(
    edges: DataFrame,
    n_iterations: int | None = 5,
    damping_pct: int = 85,
    max_rounds: int = 100,
    unit: int = ONE_E12,
) -> DataFrame:
    """PageRank over a directed (src, dst) edge list.

    Returns (node, rank_e12: bigint) with rank_e12 ≈ rank·1e12. Nodes
    = every id appearing as src or dst; dangling nodes (no out-edges)
    contribute nothing per round (the classic simplification — their
    mass leaves the system, keeping the recurrence local so one
    groupBy per round suffices at any scale; the normalized variant
    redistributes a 1-row aggregate and costs one extra broadcast join
    per round). ``damping_pct`` is an integer percentage so the damp
    step stays integral.

    ``n_iterations=N`` replays exactly N rounds as one lazy plan (the
    gr1 registry/oracle mode). ``n_iterations=None`` iterates to the
    INTEGER fixed point (the kcore_peel convergence-twin contract):
    per-round persist, one max|Δrank_e12| aggregate per round, stop at
    Δ = 0. The damped integer recurrence is a
    contraction down to the last integer unit, where floor-division
    rounding can in principle sustain a ±1 flicker — ``max_rounds``
    backstops that; on reaching Δ = 0 the result is a true fixed
    point, so it equals ANY longer unrolled run (pytest-proven in
    tests/test_graph_convergence.py).

    ``unit`` sets the fixed-point scale (ranks are integer multiples
    of 1/unit). A coarser unit makes Δ = 0 reachable in few rounds —
    the gr2 registry query certifies the convergence machinery at
    unit=1e6 — while the 1e-12 default maximizes resolution for
    fixed-round replays. The output column keeps its ``rank_e12``
    name regardless; coarse-unit callers alias it on the way out.
    """
    from pyspark import StorageLevel
    from pyspark.sql.window import Window

    e = edges.select("src", "dst")
    # edge list annotated with its source's out-degree, reused verbatim
    # every round — persist once, HASH-PARTITIONED ON THE JOIN KEY.
    # The degree attaches via an unordered WINDOW over partitionBy(src)
    # rather than groupBy + join-back + repartition: the window's own
    # exchange IS the hash(src) layout the cache needs, so the edge
    # list crosses the wire exactly once (the groupBy+join form cost
    # three edge-list exchanges, and letting AQE broadcast the degree
    # table instead silently left the cache in the upstream layout —
    # fine while the rank stream is broadcast-able, fatal at graph
    # scale where each round would then re-exchange every edge). A
    # skewed hub src buffers its out-edges in one window partition —
    # the same skew exposure the join form had on its build key.
    # Cached as hashpartitioning(src, conf partitions), each round's
    # rank join reuses the layout and only the (much smaller) rank
    # stream shuffles.
    ed = (
        e.withColumn("deg", F.count("*").over(Window.partitionBy("src")))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # node list DERIVED FROM the cached ed (the deg join drops no edge
    # row — every src has deg >= 1), not from the raw edge expression:
    # building it independently would run the upstream edge plan (for
    # gr1, a lineitem⋈orders join + distinct) a second time just to
    # count nodes
    nodes = (
        ed.select(F.col("src").alias("node"))
        .union(ed.select(F.col("dst").alias("node")))
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )

    n = nodes.count()  # control-plane scalar: the teleport denominator
    teleport = (unit * (100 - damping_pct) // 100) // n
    init = unit // n

    # The recurrence is LINEAR — each round's ranks feed exactly one
    # consumer (the next round's contribution join), so no intermediate
    # is ever read twice and the whole n-round chain can stay one lazy
    # plan: one job submission, full stage pipelining, AQE re-planning
    # each exchange with runtime stats. (Materializing every round, the
    # connected-components shape, is only needed when a round's output
    # fans out — dropping it cut gr1's warm bench time 9.5s → ~7s; the
    # one-off plan-compilation cost of the deeper tree lands on the
    # uncounted warmup pass.)
    # Only `ed` and `nodes` are reused every round and stay persisted.
    # Round-7 A/B closed the "try per-round localCheckpoint" question
    # for good: at sf0.1 under the bench harness the lazy chain
    # measured 3.76/3.05 s vs 3.59/3.79 s with an eager
    # localCheckpoint per round — identical within run noise, i.e.
    # the recurrence is floor-bound on its two per-round exchanges,
    # not on plan depth. The lazy form stays: localCheckpoint blocks
    # are unrecoverable on executor loss, so at cluster scale the
    # lazy/AQE plan (or a reliable checkpoint to durable storage for
    # 50+-round runs) is the correct shape anyway.
    ranks = nodes.select("node", F.lit(init).cast("long").alias("rank_e12"))
    zero_mass = nodes.select("node", F.lit(0).cast("long").alias("c"))

    def one_round(r: DataFrame) -> DataFrame:
        # one join + one groupBy per round: instead of left-outer
        # joining the node list back to re-admit sink nodes (a second
        # join per round), every node contributes a zero row into the
        # same aggregation — the union is narrow and the groupBy was
        # already there
        contrib = (
            ed.join(r.withColumnRenamed("node", "src"), "src")
            .select(
                F.col("dst").alias("node"),
                # integral divide: the per-edge mass, exact in any engine
                F.expr("rank_e12 div deg").alias("c"),
            )
            .unionAll(zero_mass)
            .groupBy("node")
            .agg(F.sum("c").alias("mass"))
        )
        return contrib.select(
            "node",
            (
                F.lit(teleport).cast("long")
                + F.expr(f"({damping_pct} * mass) div 100")
            ).alias("rank_e12"),
        )

    if n_iterations is not None:
        for _ in range(n_iterations):
            ranks = one_round(ranks)
        # ed/nodes stay cached for the (lazy) returned plan; the session
        # cache-clear between registry queries releases them
        return ranks

    # fixed-point mode: per-round localCheckpoint + one max|Δ|
    # control-plane scalar (the kcore_peel shape). Checkpoint, not
    # persist: each round feeds two consumers (next round's join + the
    # delta check) and even LINEAR logical-tree growth over the
    # window-annotated edge plan blew the driver's explain-string
    # buffer by round ~13 when gr2 first ran with persist-only rounds
    # — truncating lineage to a LogicalRDD leaf every round keeps
    # re-analysis O(1); the ContextCleaner reclaims released rounds.
    ranks = ranks.localCheckpoint()
    converged = False
    delta = None
    for _ in range(max_rounds):
        # fold the Δ against the previous round INTO the checkpointed
        # row (the lpa_semisync flagged shape): ONE materialization
        # job per round, then the max|Δ| aggregate runs over the fresh
        # in-memory checkpoint
        flagged = (
            one_round(ranks)
            .join(
                ranks.select("node", F.col("rank_e12").alias("__old")), "node"
            )
            .select(
                "node",
                "rank_e12",
                F.abs(F.col("rank_e12") - F.col("__old")).alias("__d"),
            )
            .localCheckpoint()
        )
        delta = flagged.agg(F.max("__d")).collect()[0][0]
        ranks = flagged.select("node", "rank_e12")
        # delta is None only on an EMPTY graph (max over zero rows):
        # vacuously converged — without this the loop would burn every
        # round and report nothing (ADVICE r8)
        if delta is None or delta == 0:
            converged = True
            break
    if not converged:
        # the integer recurrence can flicker ±1 e-12 unit forever on
        # some graphs (div truncation); surface the exhaustion instead
        # of silently returning a possibly non-converged table
        logging.getLogger(__name__).warning(
            "pagerank fixed-point: max_rounds=%d exhausted without "
            "delta==0 (last max|delta|=%s e-12 units); result is the "
            "final round, not a proven fixed point",
            max_rounds,
            delta,
        )
    return ranks


def lpa_propagate(edges: DataFrame) -> DataFrame:
    """Synchronous label propagation (Raghavan, Albert & Kumara 2007)
    over a DOUBLED undirected edge list (src, dst): every node adopts
    the most frequent label among its neighbors, ties to the smallest
    label. Returns (node, lbl). Labels init to node ids.

    Replays exactly :data:`LPA_ROUNDS` unrolled synchronous rounds as
    ONE lazy plan with broadcast label joins — the lpa1 registry
    query's DuckDB oracle unrolls the identical recurrence as chained
    CTEs. Synchronous LPA 2-cycles on bipartite structures, so it has
    no fixed-point mode here: :func:`lpa_semisync` is the schedule that
    converges.

    Scale shape: labels are one row per node (≪ edges; ≤ 16k
    customers + suppliers at sf0.1); broadcasting them keeps the
    2|E|-row edge list un-shuffled every round. Each round is ONE
    edge⋈label join + a (node, lbl) count + a (node) argmin, all
    map-side combinable. Callers should persist the edge list
    HASH-PARTITIONED ON src: that one layout satisfies the clustering
    of both per-round aggregates, making every round exchange-free
    (lpa1 measured 4.91s → 2.10s at sf0.1).
    """
    e = edges.select("src", "dst")
    lab = e.select(F.col("src").alias("node"), F.col("src").alias("lbl")).distinct()
    for _ in range(LPA_ROUNDS):
        cnt = (
            e.join(F.broadcast(lab.withColumnRenamed("node", "dst")), "dst")
            .groupBy(F.col("src").alias("node"), "lbl")
            .agg(F.count("*").alias("c"))
        )
        lab = (
            cnt.groupBy("node")
            .agg(F.min(F.struct((-F.col("c")).alias("nc"), "lbl")).alias("b"))
            .select("node", F.col("b.lbl").alias("lbl"))
        )
    return lab


def lpa_semisync(edges: DataFrame) -> DataFrame:
    """Semi-synchronous label propagation (Cordasco & Gargano 2011,
    "Community detection via semi-synchronous label propagation
    algorithms") over a DOUBLED undirected edge list whose node ids
    carry a 2-coloring in their parity (even/odd — the lpa1/gr1
    customer-2k / supplier-2k+1 encoding of a bipartite graph).
    Returns (node, lbl); labels init to node ids.

    Each full round runs TWO half-steps: first every EVEN node adopts
    the neighbor-label mode (ties → smallest label) while odd labels
    stay fixed, then every ODD node updates against the refreshed even
    labels. Within a color class no two nodes are adjacent, so each
    half-step is order-independent (deterministic like the synchronous
    rule) while the alternation breaks the synchronous 2-cycle that
    bipartite graphs provoke — Cordasco-Gargano prove the colored
    schedule converges where the fully synchronous one oscillates
    (measured here: plain sync never converges on the order graph at
    any SF; this reaches the fixed point in 4-7 full rounds).

    Convergence machinery: ONE changed-flag aggregate per full round
    over an eagerly ``localCheckpoint``-ed label table, an
    :data:`LPA_MAX_ROUNDS` backstop with the kcore_peel/pagerank
    exhaustion warning. The checkpoint (not persist) is load-bearing
    here: each half-step references the incoming label table TWICE
    (keep-side filter + update-side join), so a full round multiplies
    the logical tree by 4 — with persist-only rounds Catalyst
    re-analyzes a 4^R-node tree and the driver dies building the
    explain string (observed live at sf0.001); the checkpoint
    truncates lineage to a LogicalRDD leaf every round, the kcore_peel
    lesson.

    Scale shape: labels broadcast (one row per node ≪ edges), so the
    2|E|-row edge list — persisted hash-partitioned on src — is never
    reshuffled; each half-step is one edge⋈label join + a (node, lbl)
    count + a (node) argmin restricted to half the srcs, all map-side
    combinable.
    """
    from pyspark import StorageLevel

    e = (
        edges.select("src", "dst")
        .repartition("src")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # each full round's label table is keep-filter ∪ update ∪ keep ∪
    # update — a UNION whose partition count is the sum of its
    # branches, and the broadcast flag-join PRESERVES it, so without a
    # bound the checkpointed table gains ~2× the edge partition count
    # every round (observed: 200-partition vanilla session reached
    # 2200-task label stages by round 5). coalesce is shuffle-free and
    # the table is node-sized.
    n_part = int(e.sparkSession.conf.get("spark.sql.shuffle.partitions"))

    def half(lab: DataFrame, parity: int) -> DataFrame:
        upd = (
            e.filter(F.col("src") % 2 == parity)
            .join(F.broadcast(lab.withColumnRenamed("node", "dst")), "dst")
            .groupBy(F.col("src").alias("node"), "lbl")
            .agg(F.count("*").alias("c"))
            .groupBy("node")
            .agg(
                F.min(
                    F.struct((-F.col("c")).alias("nc"), "lbl")
                ).alias("b")
            )
            .select("node", F.col("b.lbl").alias("lbl"))
        )
        return lab.filter(F.col("node") % 2 != parity).unionByName(upd)

    lab = (
        e.select(F.col("src").alias("node"), F.col("src").alias("lbl"))
        .distinct()
        .localCheckpoint()
    )
    converged = False
    for _ in range(LPA_MAX_ROUNDS):
        new = half(half(lab, 0), 1)
        flagged = (
            new.join(lab.select("node", F.col("lbl").alias("__old")), "node")
            .select(
                "node", "lbl", (F.col("lbl") != F.col("__old")).alias("__ch")
            )
            .coalesce(n_part)
            .localCheckpoint()
        )
        changed = flagged.agg(F.max("__ch")).collect()[0][0]
        lab = flagged.select("node", "lbl")  # projection on the checkpoint
        # changed is None only on an EMPTY node table: vacuously converged
        if not changed:
            converged = True
            break
    if not converged:
        logging.getLogger(__name__).warning(
            "lpa_semisync: %d rounds exhausted before the labels "
            "stabilized; result is the final round, not a proven fixed "
            "point",
            LPA_MAX_ROUNDS,
        )
    e.unpersist()
    return lab.select("node", "lbl")


def kcore_peel(
    edges: DataFrame,
    k: int,
    rounds: int | None = None,
) -> DataFrame:
    """k-core peeling (Seidman 1983; distributed schedule of Montresor
    et al. 2013) over a DOUBLED undirected edge list (src, dst):
    repeatedly delete nodes of degree < k and the edges they carry.
    Returns the surviving doubled edge list.

    - ``rounds=N`` peels exactly N synchronous rounds. The result is a
      SUPERSET of the true k-core unless the peel has converged.
    - ``rounds=None`` peels to the fixed point: peeling is MONOTONE (the
      edge set only shrinks), so ``|ng| == |g|`` is exact convergence
      (equal counts of nested sets ⟺ equal sets) — no oscillation cap
      needed; :data:`KCORE_MAX_ROUNDS` is a runaway backstop only. ONE
      action per round: the new edge count doubles as both the
      convergence scalar and the materializer.

    Each round ends in a ``localCheckpoint`` (eager in fixed-point
    mode where the count needs it, lazy otherwise), which does two
    jobs at once. (1) It materializes the round so keep/drop and the
    next round's join don't re-execute the shared subtree ~2^N times
    (Spark plans are trees — measured 14.7s → 3.3s on kcore1 with a
    persist). (2) Unlike persist, it TRUNCATES LINEAGE: with
    persist-only rounds, the logical tree under each InMemoryRelation
    still grows by one anti-join layer per round, and Catalyst
    re-analyzes the whole accumulated tree on every action — measured
    on kcore2 at sf0.1 (2026-08-15): the zero-change certify round
    alone cost 6.2s driver-side against 34k cached rows; flat
    localCheckpoint rounds run the full fixed point in 2.4-2.6s
    (5.6× whole-query). Checkpointed rounds are released by the
    ContextCleaner when unreferenced, so repeated library calls don't
    accumulate executor storage (ADVICE r8).

    Scale shape: each round is ONE map-side-combined degree
    aggregation plus two LEFT ANTI joins hash-partitioned on the same
    endpoint keys; the drop set (nodes BELOW k — typically a small
    minority) broadcasts via AQE as the peel front shrinks. The edge
    list checkpoints HASH-PARTITIONED ON src (LogicalRDD preserves
    outputPartitioning), so the per-round degree aggregate runs
    exchange-free on the stored layout. At 100 TB swap the
    executor-local checkpoint for a reliable ``checkpoint()`` to the
    cluster's checkpoint dir — localCheckpoint trades executor-loss
    fault tolerance for speed, the right trade on a bench box and the
    wrong one on a 1000-executor job.
    """
    # fixed-point mode needs each round materialized NOW (the count is
    # the convergence scalar); rounds=N mode leaves materialization to
    # the caller's one action — lazy checkpoints still truncate lineage
    # and still deduplicate the shared subtree (A/B at sf0.1, 3
    # interleaved passes: lazy 2.1-2.2s vs eager 2.4s on kcore1)
    eager = rounds is None
    g = edges.select("src", "dst").repartition("src").localCheckpoint(
        eager=eager
    )
    prev = g.count() if rounds is None else None
    n = KCORE_MAX_ROUNDS if rounds is None else rounds
    converged = rounds is not None  # rounds=N mode never claims a fixed point
    for _ in range(n):
        drop = (
            g.groupBy("src")
            .agg(F.count("*").alias("deg"))
            .filter(F.col("deg") < k)
            .select(F.col("src").alias("node"))
        )
        # the two anti joins re-derive drop from the checkpointed g —
        # one extra small aggregate per round, cheaper than a separate
        # materialization action for it
        ng = (
            g.join(drop.withColumnRenamed("node", "src"), "src", "left_anti")
            .join(drop.withColumnRenamed("node", "dst"), "dst", "left_anti")
            .localCheckpoint(eager=eager)
        )
        if rounds is None:
            cnt = ng.count()
            if cnt == prev:
                # monotone peel: ng ⊆ g, equal counts mean equal sets —
                # g IS the fixed point; the identical new round is left
                # to the ContextCleaner
                converged = True
                break
            prev = cnt
        g = ng
    if not converged:
        # mirror pagerank's exhaustion signal: a capped exit hands
        # the caller a SUPERSET of the true core, not a proven one
        logging.getLogger(__name__).warning(
            "kcore_peel fixed-point: %d rounds exhausted before the "
            "peel stabilized (last edge count=%s); result is the final "
            "round — a superset of the true %d-core, not a proven "
            "fixed point",
            KCORE_MAX_ROUNDS,
            prev,
            k,
        )
    return g
