"""Plan-structure proofs for the round-7 selection/diversity ops
(plans/selection.py): each docstring's 100 TB claim about shuffles and
broadcasts is asserted from the executed plan, not assumed — the
test_scale_ops convention.
"""

from __future__ import annotations

import contextlib
import io
import re

from pyspark.sql import functions as F

from aqi_analysis_apache_airflow_spark.plans import REGISTRY

SF_DIR = "/root/testdata/sf0.001"


def _plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_winnow1_single_corpus_exchange(spark):
    """winnow1's claim: rank, windowed min, and the per-doc rollup all
    reuse ONE hash(doc_id) exchange of the k-gram stream. The r13
    load_spread adds a conditional RoundRobin exchange at the scan
    (single-split input only — absent at scale), which is load
    parallelism, not a second corpus pass."""
    df = REGISTRY["winnow1_winnowing_fingerprints"].fn(spark, SF_DIR)
    p = _plan(df)
    ex = re.findall(r"\(\d+\) Exchange\n(?:.*\n)*?Arguments: (\w+)", p)
    assert len([e for e in ex if e == "hashpartitioning"]) == 1, p
    assert all(e in ("hashpartitioning", "RoundRobinPartitioning") for e in ex), p


def test_ent1_two_exchanges_second_compressed(spark):
    """ent1's claim: the raw token stream shuffles once (the tf
    groupBy, map-side combined); the only other exchange carries the
    compressed per-(doc, token) tf rows into the per-doc rollup."""
    df = REGISTRY["ent1_token_entropy"].fn(spark, SF_DIR)
    p = _plan(df)
    assert len(re.findall(r"\(\d+\) Exchange", p)) == 2, p


def test_bloom1_bit_table_broadcasts(spark):
    """bloom1's claim: the bounded (≤m-row) bit table reaches the
    probe join as a broadcast, never a shuffled join of the corpus."""
    df = REGISTRY["bloom1_bloom_membership"].fn(spark, SF_DIR)
    p = _plan(df)
    assert "BroadcastHashJoin" in p, p
    # the probe-side explode must not be sort-merge joined
    assert "SortMergeJoin" not in p, p


def test_kcen1_centers_broadcast_every_round(spark):
    """kcen1's claim: every greedy round broadcasts the ≤k×dim center
    table onto the cached corpus — the exploded corpus is never the
    build side of a shuffled join."""
    df = REGISTRY["kcen1_kcenter_coreset"].fn(spark, SF_DIR)
    p = _plan(df)
    # one broadcast join per distance pass (k-1 greedy + 1 final)
    assert p.count("BroadcastHashJoin") >= 5, p


def test_rr1_fusion_join_is_bounded(spark):
    """rr1's claim: the fused lists are bounded pools — the final
    plan's top is a TakeOrdered/Limit over two ≤50-row ranked lists,
    and each arm reduces via TakeOrderedAndProject, not a global
    sort of the corpus."""
    df = REGISTRY["rr1_rank_fusion"].fn(spark, SF_DIR)
    p = _plan(df)
    assert "TakeOrderedAndProject" in p, p


def test_mmr1_pool_is_take_ordered(spark, monkeypatch):
    """mmr1's claim: the only corpus-sized reduction is the pool's
    TakeOrderedAndProject; every greedy round joins broadcast
    1-row/bounded sides. The localCheckpoint materializations hide
    that shape in the FINAL explain (the returned plan is a checkpoint
    scan; the work happens in the per-round materializations), so the
    gate records the plan of every frame handed to ``pin``: the first
    is the pool, and each one is built over broadcast joins."""
    from aqi_analysis_apache_airflow_spark.plans import selection

    plans = []
    real_pin = selection.pin

    def recording_pin(df):
        plans.append(_plan(df))
        return real_pin(df)

    monkeypatch.setattr(selection, "pin", recording_pin)
    REGISTRY["mmr1_diversified_topk"].fn(spark, SF_DIR)
    assert plans
    assert "TakeOrderedAndProject" in plans[0], plans[0]
    for p in plans:
        assert "BroadcastHashJoin" in p or "BroadcastNestedLoopJoin" in p, p


def test_winnow1_density_guarantee(spark):
    """Winnowing's published expectation: density ≈ 2/(w+1) = 0.333
    for w=5 on random streams; every doc's realized density must lie
    in (0, 1] and the corpus mean near the theoretical value (wide
    ±0.15 band — the corpus vocabulary is small and skewed)."""
    df = REGISTRY["winnow1_winnowing_fingerprints"].fn(spark, SF_DIR)
    row = df.agg(
        F.avg("density").alias("mean_d"),
        F.min("density").alias("min_d"),
        F.max("density").alias("max_d"),
    ).collect()[0]
    assert 0.0 < row["min_d"] <= row["max_d"] <= 1.0
    assert abs(row["mean_d"] - 2.0 / 6.0) < 0.15, row["mean_d"]


def test_bloom1_guarantee_holds(spark):
    """The Bloom one-sided-error contract on real data: zero false
    negatives, and the FPR at m=8192/k=3 for ~250 members stays far
    from degenerate (< 50%)."""
    row = REGISTRY["bloom1_bloom_membership"].fn(spark, SF_DIR).collect()[0]
    assert row["no_false_negatives"] is True
    assert row["n_false_negative"] == 0
    if row["fpr"] is not None:
        assert row["fpr"] < 0.5


def test_kcen1_farthest_first_radius_shrinks(spark):
    """Greedy k-center must cover at least as well as its own seed:
    the max assigned distance with 5 centers is <= the max distance
    to the seed alone (monotone coverage), and exactly k centers are
    flagged."""
    df = REGISTRY["kcen1_kcenter_coreset"].fn(spark, SF_DIR)
    rows = df.agg(
        F.max("dist2_scaled").alias("radius5"),
        F.count_if("is_center").alias("k"),
    ).collect()[0]
    assert rows["k"] == 5
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    from aqi_analysis_apache_airflow_spark.plans.selection import _KC_K  # noqa: F401

    # seed-only radius: distance of the farthest vector from vec 0
    qx = emb.select("vec_id", F.posexplode("embedding").alias("pos", "x")).select(
        "vec_id", "pos", F.round(F.col("x").cast("double") * 1e7).cast("long").alias("q")
    )
    seed = qx.filter(F.col("vec_id") == 0).select(
        "pos", F.col("q").alias("qc")
    )
    d0 = (
        qx.join(F.broadcast(seed), "pos")
        .groupBy("vec_id")
        .agg(F.sum((F.col("q") - F.col("qc")) * (F.col("q") - F.col("qc"))).alias("d2"))
        .agg(F.max("d2").alias("radius1"))
        .collect()[0]
    )
    assert rows["radius5"] <= d0["radius1"]


def test_mmr1_selection_is_diverse(spark):
    """MMR's defining property on this corpus: the five picks are
    distinct, sel_order is 1..5, and every later pick's MMR score is
    <= the seed's relevance-driven score (the greedy objective is
    non-increasing in rounds for a fixed pool)."""
    rows = (
        REGISTRY["mmr1_diversified_topk"]
        .fn(spark, SF_DIR)
        .orderBy("sel_order")
        .collect()
    )
    assert [r["sel_order"] for r in rows] == list(range(1, len(rows) + 1))
    assert len({r["vec_id"] for r in rows}) == len(rows)
    scores = [r["mmr_score"] for r in rows]
    assert all(s <= scores[0] + 1e-12 for s in scores[1:])


def test_g6_percentile_agg_has_no_expand(spark):
    """g6's round-9 fix: mixing countDistinct into the percentile
    aggregation made Catalyst plan an Expand and build the exact-
    percentile buffers per (flag, partkey) group instead of per flag
    (22.4s cold / 5.4s interleaved → 2.2s at sf0.1). The exact
    distinct count runs as its own two-phase groupBy joined back in —
    so the plan must contain NO Expand node at all."""
    df = REGISTRY["g6_approx_sketches"].fn(spark, SF_DIR)
    p = _plan(df)
    assert "Expand" not in p, p


def test_qc4_shuffles_are_doc_keyed(spark):
    """qc4's claim: every shuffle key is doc-local (the gram aggregate,
    the coverage distinct, the final count) — no corpus-global window
    or exchange-by-gram-alone appears anywhere."""
    df = REGISTRY["qc4_dup_ngram_coverage"].fn(spark, SF_DIR)
    p = _plan(df)
    assert "Window" not in p, p
    for m in re.finditer(r"Exchange hashpartitioning\(([^)]*)\)", p):
        assert "doc_id" in m.group(1), m.group(0)


def test_kw1_windows_partition_by_source(spark):
    """kw1's claim: the only window is the per-source rank over
    vocabulary-sized groups — never an unpartitioned global window."""
    df = REGISTRY["kw1_source_keywords"].fn(spark, SF_DIR)
    p = _plan(df)
    assert "Window" in p, p
    # windowspecdefinition(partitionCols..., orderCols..., frame): the
    # FIRST argument of every spec must be the bare source attribute —
    # an unpartitioned window would lead with an order expression
    # (e.g. "lift_micro#45L DESC NULLS LAST") instead.
    specs = re.findall(r"windowspecdefinition\(([^,]+),", p)
    assert specs, p
    for s in specs:
        assert re.fullmatch(r"source#\d+", s.strip()), (s, p)


def test_lp1_topk_is_take_ordered(spark):
    """lp1's claim: the top-100 exits through TakeOrderedAndProject,
    never a global sort, and no unbounded cartesian/window appears —
    the wedge fan-out is bounded by the hub df-cap, not by plan luck."""
    df = REGISTRY["lp1_link_prediction"].fn(spark, SF_DIR)
    p = _plan(df)
    assert "TakeOrderedAndProject" in p, p
    assert "CartesianProduct" not in p, p
    assert "Window" not in p, p


def test_sb1_no_pairwise_document_join(spark):
    """sb1's claim: Self-BLEU is O(corpus) — the leave-one-out clip
    happens through the vocab²-bounded gram-total join (broadcast),
    never a doc×doc comparison; no sort-merge join of two corpus-sized
    relations and no window anywhere."""
    df = REGISTRY["sb1_self_bleu_bigram"].fn(spark, SF_DIR)
    p = _plan(df)
    assert "SortMergeJoin" not in p, p
    assert "CartesianProduct" not in p, p
    assert "Window" not in p, p


def test_aniso1_no_pairwise_join(spark):
    """aniso1's claim: the sum-vector identity removes ALL pairwise
    work — the plan contains only broadcast joins of bounded
    aggregates (≤ labels×64 rows), no sort-merge join, no cartesian
    product, no window."""
    df = REGISTRY["aniso1_embedding_anisotropy"].fn(spark, SF_DIR)
    p = _plan(df)
    assert "SortMergeJoin" not in p, p
    assert "CartesianProduct" not in p, p
    assert "Window" not in p, p


def test_bh1_corpus_aggregate_is_hypothesis_keyed(spark):
    """bh1's claim: the docs x sources x rounds fan-out collapses via
    a hash-partitioned (s_hyp, k) aggregate (map-side combinable) —
    the only SinglePartition exchanges feed m-row control tables, and
    the corpus never meets a SortMergeJoin."""
    df = REGISTRY["bh1_fdr_source_drift"].fn(spark, SF_DIR)
    p = _plan(df)
    assert re.search(r"hashpartitioning\(s_hyp", p), p
    assert "SortMergeJoin" not in p, p


def test_mk1_windows_are_type_partitioned(spark):
    """mk1's claim: the Theil-Sen median window partitions by
    event_type over the calendar-bounded pair set — no unpartitioned
    corpus-sized window exists in the plan."""
    df = REGISTRY["mk1_trend_test"].fn(spark, SF_DIR)
    p = _plan(df)
    for spec in re.findall(r"windowspecdefinition\(([^)]*)\)", p):
        assert "event_type" in spec, spec


def test_emd1_spine_window_is_bounded_and_source_grid_broadcasts(spark):
    """emd1's claim: the corpus reduces via two counting groupBys; the
    sources x spine grid is built broadcast-side (no shuffled join of
    the corpus), and per-source cumsums partition by source."""
    df = REGISTRY["emd1_wasserstein_length_drift"].fn(spark, SF_DIR)
    p = _plan(df)
    assert "BroadcastHashJoin" in p or "BroadcastNestedLoopJoin" in p, p
    assert "SortMergeJoin" not in p, p
    assert re.search(r"windowspecdefinition\(source", p), p


#: Address-space cap for the mmr1 oracle child (``RLIMIT_AS``).
_ORACLE_AS_LIMIT = 2 << 30

_ORACLE_CHILD = """
import resource, sys
resource.setrlimit(resource.RLIMIT_AS, ({limit}, {limit}))
import duckdb
con = duckdb.connect()
con.execute("CREATE VIEW embeddings AS SELECT * FROM '{sf_dir}/embeddings.parquet'")
print(len(con.execute(sys.stdin.read()).fetchall()))
"""


def test_mmr1_oracle_runs_in_two_gib():
    """Each greedy round of the mmr1 oracle reads the previous round's
    selection twice. Without ``AS MATERIALIZED`` DuckDB inlines every
    ``sel{i}`` CTE and the query tree grows about 3x per round, so the
    oracle needed ~4 GB at sf0.001; materialized, it runs in ~130 MB."""
    import subprocess
    import sys

    from aqi_analysis_apache_airflow_spark.plans.selection import _mmr1_oracle

    child = _ORACLE_CHILD.format(limit=_ORACLE_AS_LIMIT, sf_dir=SF_DIR)
    out = subprocess.run(
        [sys.executable, "-c", child],
        input=_mmr1_oracle(),
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert out.stdout.split() == ["5"]
