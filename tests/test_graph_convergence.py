"""Convergence twins for the unrolled graph registry queries
(verdict r7 task 6): ``kcore_peel`` with ``rounds=None`` iterates the
IDENTICAL recurrence the unrolled kcore1 registry plan replays for
oracle parity, stopping at the fixed point via d6's control-plane
convergence scalar. These fixtures prove the contract: once the
recurrence converges, the fixed point equals any sufficiently long
unrolled run — and where the registry's bounded unrolling has NOT
converged, the fixed point keeps going and lands on the exact
published result (the true k-core). Synchronous LPA has no fixed-point
mode (it 2-cycles on bipartite graphs): ``lpa_propagate`` replays
lpa1's ``LPA_ROUNDS`` rounds, and ``lpa_semisync`` is lpa2's
convergent schedule."""

from __future__ import annotations

from pyspark.sql import functions as F

from aqi_analysis_apache_airflow_spark.functions.graph import (
    LPA_MAX_ROUNDS,
    kcore_peel,
    lpa_propagate,
)


def _doubled(spark, pairs):
    """Doubled undirected edge list from (u, v) pairs."""
    e0 = spark.createDataFrame(pairs, "src long, dst long")
    return e0.unionAll(e0.select(F.col("dst").alias("src"), F.col("src").alias("dst")))


def _lab(df):
    return {r["node"]: r["lbl"] for r in df.collect()}


def _edges(df):
    return {(r["src"], r["dst"]) for r in df.collect()}


# --------------------------------------------------------------------------
# LPA
# --------------------------------------------------------------------------


def _sync_round(pairs, lab):
    """One synchronous LPA round replayed in Python: every node takes
    its neighbours' most frequent label, ties to the smallest."""
    adj: dict[int, list[int]] = {}
    for u, v in pairs:
        adj.setdefault(u, []).append(v)
        adj.setdefault(v, []).append(u)
    out = {}
    for n, nbrs in adj.items():
        cnt: dict[int, int] = {}
        for m in nbrs:
            cnt[lab[m]] = cnt.get(lab[m], 0) + 1
        out[n] = min(cnt, key=lambda l: (-cnt[l], l))
    return out


def test_lpa_fixed_point_matches_unrolled_once_converged(spark):
    # triangle {1,2,3}: r1 -> {1:2, 2:1, 3:1}, r2 -> {1:1, 2:1, 3:1},
    # r3 -> no change. The LPA_ROUNDS unrolled rounds reach the fixed
    # point: one more hand-replayed round leaves the labels unchanged.
    pairs = [(1, 2), (2, 3), (1, 3)]
    got = _lab(lpa_propagate(_doubled(spark, pairs)))
    assert got == {1: 1, 2: 1, 3: 1}
    assert _sync_round(pairs, got) == got


def test_lpa_two_components_converge_to_two_labels(spark):
    # two disjoint triangles -> each floods to its own min label
    e = _doubled(spark, [(1, 2), (2, 3), (1, 3), (10, 11), (11, 12), (10, 12)])
    assert _lab(lpa_propagate(e)) == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 12: 10}


# --------------------------------------------------------------------------
# k-core
# --------------------------------------------------------------------------


def test_kcore_fixed_point_matches_unrolled_once_converged(spark):
    # 4-clique + pendant node, k=2: pendant (and its stub on node 1)
    # peels in round 1, the clique is already a 3-core — converged
    # well inside 3 rounds, so fixed point == the registry's unrolled-3.
    clique = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4)]
    e = _doubled(spark, clique + [(1, 99)])
    fixed = _edges(kcore_peel(e, k=2, rounds=None))
    assert fixed == _edges(kcore_peel(e, k=2, rounds=3))
    assert fixed == _edges(_doubled(spark, clique))


def test_kcore_fixed_point_goes_past_bounded_unrolling(spark):
    # path 1-2-...-8 with k=2 peels one endpoint pair per round:
    # unrolled-3 still holds the middle edge 4-5 (a SUPERSET of the
    # true k-core, per the kcore1 docstring); the fixed point peels
    # to the exact answer — empty.
    path = [(i, i + 1) for i in range(1, 8)]
    e = _doubled(spark, path)
    assert _edges(kcore_peel(e, k=2, rounds=3)) == {(4, 5), (5, 4)}
    assert _edges(kcore_peel(e, k=2, rounds=None)) == set()


def test_kcore_fixed_point_on_stable_core_is_identity(spark):
    # a triangle is its own 2-core: zero peel rounds, loop exits on
    # the first empty drop set
    tri = [(1, 2), (2, 3), (1, 3)]
    e = _doubled(spark, tri)
    assert _edges(kcore_peel(e, k=2, rounds=None)) == _edges(_doubled(spark, tri))


# --------------------------------------------------------------------------
# PageRank
# --------------------------------------------------------------------------


def _ranks(df):
    return {r["node"]: r["rank_e12"] for r in df.collect()}


def test_pagerank_fixed_point_satisfies_recurrence(spark):
    # small strongly-connected cycle + chord, low damping so the
    # integer recurrence contracts fast. The fixed point is verified
    # by an EXACT Python replay of one more synchronous round (same
    # integer teleport / div-by-degree / damp steps): a true fixed
    # point is unchanged by it, which transitively equals ANY longer
    # unrolled run. (Deep unrolled lazy chains themselves are not a
    # usable comparator — past ~15 rounds the plan tree OOMs the
    # planner, which is exactly why the convergent mode exists.)
    from aqi_analysis_apache_airflow_spark.functions.graph import (
        ONE_E12,
        pagerank,
    )

    edges = [(1, 2), (2, 3), (3, 1), (1, 3)]
    e = spark.createDataFrame(edges, "src long, dst long")
    dp = 10
    fixed = _ranks(pagerank(e, n_iterations=None, damping_pct=dp))
    nodes = {n for ab in edges for n in ab}
    deg: dict[int, int] = {}
    for s, _ in edges:
        deg[s] = deg.get(s, 0) + 1
    teleport = (ONE_E12 * (100 - dp) // 100) // len(nodes)
    mass = {n: 0 for n in nodes}
    for s, d in edges:
        mass[d] += fixed[s] // deg[s]
    replay = {n: teleport + (dp * mass[n]) // 100 for n in nodes}
    assert replay == fixed


def test_pagerank_unrolled_mode_unchanged_by_twin(spark):
    # the registry/oracle mode (n_iterations=5) must be byte-identical
    # to the pre-twin behavior: fixed rank mass ordering on a star
    from aqi_analysis_apache_airflow_spark.functions.graph import pagerank

    e = spark.createDataFrame(
        [(1, 9), (2, 9), (3, 9), (9, 1)], "src long, dst long"
    )
    r = _ranks(pagerank(e, n_iterations=5))
    assert set(r) == {1, 2, 3, 9}
    assert r[9] == max(r.values())  # the hub absorbs the mass


# --------------------------------------------------------------------------
# semi-synchronous LPA (lpa2's engine — Cordasco & Gargano 2011)
# --------------------------------------------------------------------------


def test_lpa_semisync_converges_where_sync_oscillates(spark):
    # single edge {even 2, odd 3}: synchronous LPA 2-cycles forever;
    # the colored schedule settles in one round — even node 2 keeps
    # its label (its only neighbor 3 still carries lbl 3 > 2? no:
    # mode of {3} = 3, so 2 adopts 3? ties to smallest is moot with
    # one neighbor) ... then odd node 3 updates against the refreshed
    # even labels. Replay by hand: h0: 2 <- mode{lbl(3)=3} = 3;
    # h1: 3 <- mode{lbl(2)=3} = 3. Round 2: no change. Fixed point
    # {2: 3, 3: 3}.
    from aqi_analysis_apache_airflow_spark.functions.graph import lpa_semisync

    e = _doubled(spark, [(2, 3)])
    fixed = _lab(lpa_semisync(e))
    assert fixed == {2: 3, 3: 3}


def test_lpa_semisync_fixed_point_is_stable(spark):
    # a fixed point must be unchanged by one more full colored round,
    # replayed by hand in Python (the pagerank test's comparator)
    from aqi_analysis_apache_airflow_spark.functions.graph import lpa_semisync

    pairs = [(2, 3), (2, 5), (4, 3), (4, 5), (6, 7), (8, 7)]
    e = _doubled(spark, pairs)
    fixed = _lab(lpa_semisync(e))

    adj: dict[int, list[int]] = {}
    for u, v in pairs:
        adj.setdefault(u, []).append(v)
        adj.setdefault(v, []).append(u)

    def half(lab, parity):
        out = dict(lab)
        for n, nbrs in adj.items():
            if n % 2 != parity:
                continue
            cnt: dict[int, int] = {}
            for m in nbrs:
                cnt[lab[m]] = cnt.get(lab[m], 0) + 1
            out[n] = min(cnt, key=lambda l: (-cnt[l], l))
        return out

    assert half(half(fixed, 0), 1) == fixed


def test_lpa_semisync_two_components(spark):
    # two disjoint even-odd squares flood to their own min labels
    from aqi_analysis_apache_airflow_spark.functions.graph import lpa_semisync

    e = _doubled(spark, [(2, 3), (4, 3), (4, 5), (2, 5), (10, 11), (12, 11)])
    fixed = _lab(lpa_semisync(e))
    assert len(set(fixed.values())) == 2
    assert set(fixed) == {2, 3, 4, 5, 10, 11, 12}


def test_lpa_semisync_random_bipartite_property(spark, caplog):
    """Property sweep (bounded hypothesis-style, seeded): on random
    small bipartite graphs the colored schedule must (1) terminate
    within LPA_MAX_ROUNDS and (2) return a labeling that is a FIXED
    POINT of one more hand-replayed full round — the Cordasco-Gargano
    guarantee the lpa2 oracle certifies on the big fixture."""
    import logging
    import random

    from aqi_analysis_apache_airflow_spark.functions.graph import lpa_semisync

    rng = random.Random(20260815)
    for trial in range(5):
        n_even = rng.randint(2, 6)
        n_odd = rng.randint(2, 6)
        evens = [2 * i for i in range(1, n_even + 1)]
        odds = [2 * i + 1 for i in range(1, n_odd + 1)]
        pairs = sorted(
            {
                (rng.choice(evens), rng.choice(odds))
                for _ in range(rng.randint(2, 12))
            }
        )
        e = _doubled(spark, pairs)
        with caplog.at_level(logging.WARNING):
            fixed = _lab(lpa_semisync(e))
        assert f"{LPA_MAX_ROUNDS} rounds exhausted" not in caplog.text, pairs

        adj: dict[int, list[int]] = {}
        for u, v in pairs:
            adj.setdefault(u, []).append(v)
            adj.setdefault(v, []).append(u)

        def half(lab, parity):
            out = dict(lab)
            for node, nbrs in adj.items():
                if node % 2 != parity:
                    continue
                cnt: dict[int, int] = {}
                for m in nbrs:
                    cnt[lab[m]] = cnt.get(lab[m], 0) + 1
                out[node] = min(cnt, key=lambda l: (-cnt[l], l))
            return out

        assert half(half(fixed, 0), 1) == fixed, (trial, pairs, fixed)


def test_lpa_semisync_label_partitions_stay_bounded(spark):
    """Regression gate for the round-10 partition-accumulation fix:
    each full round's keep∪update union adds the edge table's
    partition count and the broadcast flag-join preserves it, so
    without the coalesce the label table reached round_count×2×
    edge-partitions (2200-task stages under a 200-partition session).
    The returned labeling must sit at or below the session's shuffle
    partition count regardless of round count."""
    from aqi_analysis_apache_airflow_spark.functions.graph import lpa_semisync

    pairs = [(2, 3), (2, 5), (4, 3), (4, 5), (6, 7), (8, 7), (6, 9)]
    lab = lpa_semisync(_doubled(spark, pairs))
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert lab.rdd.getNumPartitions() <= n_part, lab.rdd.getNumPartitions()
