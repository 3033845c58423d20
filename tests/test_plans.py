"""Physical-plan regression tests: the optimizations the engine's scale
story depends on must be visible in the plan, not assumed (SURVEY.md §4).
A refactor that silently turns a broadcast join into a sort-merge join
or un-pushes a filter should fail here, at sf-independent cost."""

from __future__ import annotations

import contextlib
import io

import pytest
from pyspark.sql import functions as F

from aqi_analysis_apache_airflow_spark.plans import REGISTRY
from aqi_analysis_apache_airflow_spark.plans import extended as _extended  # noqa: F401
from aqi_analysis_apache_airflow_spark.plans import queries as _queries  # noqa: F401

SF_DIR = "/root/testdata/sf0.001"


def plan_of(spark, name: str) -> str:
    df = REGISTRY[name].fn(spark, SF_DIR)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_scan_pushdown_and_pruning(spark):
    p = plan_of(spark, "s4_scan_project")
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThan(l_shipdate" in p
    # projection reaches the scan: only the 4 selected columns are read
    assert "l_quantity" not in p and "l_discount" not in p


def test_star_join_broadcasts_all_dims(spark):
    p = plan_of(spark, "j2_star_join_agg")
    # 3 joins, each named once in the tree and once in the details
    assert p.count("BroadcastHashJoin") >= 3
    assert "SortMergeJoin" not in p
    # the region literal filter pushed into the region scan
    assert "EqualTo(r_name,ASIA)" in p


def test_q5_single_shuffle_pair(spark):
    p = plan_of(spark, "q5_supplier_volume")
    # lineitem⋈orders may be sort-merge or shuffled-hash; dims broadcast
    assert p.count("BroadcastHashJoin") >= 4


def test_global_topk_never_global_sorts(spark):
    p = plan_of(spark, "o1_global_topk")
    assert "TakeOrderedAndProject" in p
    assert "Exchange rangepartitioning" not in p


def test_q1_partial_aggregation(spark):
    p = plan_of(spark, "q1_pricing_summary")
    # partial agg before the exchange, final after: map-side combine
    first_agg = p.index("HashAggregate")
    exchange = p.index("Exchange")
    assert first_agg < exchange or p.count("HashAggregate") >= 2


def test_ivf_plan_has_no_global_window(spark):
    """Centroid selection is a hash-bucket groupBy and ranking is
    post-top-k — no Window may run over the CORPUS (the old
    every-Nth-by-row_number pick ran a single-task global sort over
    every corpus id). The self-verify form adds rank windows, but each
    must sit directly over a 50-row top-k result (TakeOrderedAndProject
    or its cached InMemoryTableScan), never over a corpus-sized
    relation."""
    p = plan_of(spark, "sim_ivf_topk")
    tree = p[: p.index("(1) ")]
    lines = tree.split("\n")
    for i, ln in enumerate(lines):
        if "Window (" in ln:
            # allow an interposed 50-row Sort + SinglePartition Exchange
            # re-establishing order under the window; within 3 levels the
            # input must be a top-k result (TakeOrdered or its cache)
            child = "".join(lines[i + 1 : i + 4])
            assert (
                "TakeOrderedAndProject" in child or "InMemoryTableScan" in child
            ), f"Window over a non-top-k child: {lines[i + 1].strip()}"
    # the driver-merge step is the top-k heap
    assert "TakeOrderedAndProject" in p
    # assignment is a per-row argmax over the broadcast centroid array:
    # the corpus is never shuffled on vec_id (the old ×16 fanout +
    # groupBy(vec_id) argmax put an Exchange hashpartitioning(vec_id)
    # full of embedding vectors here)
    assert "hashpartitioning(vec_id" not in p


def test_d3_plan_no_corpus_broadcast(spark):
    """The signature re-attach joins must not force a broadcast of the
    O(corpus) signature table. The ONE sanctioned hint in the d3 plan
    is the 1-row n_extra aggregate on the agreement crossJoin; any
    other forced build side (AQE decides the rest at runtime) fails."""
    df = REGISTRY["d3_minhash_lsh"].fn(spark, SF_DIR)
    logical = df._jdf.queryExecution().logical().toString()
    hints = logical.count("ResolvedHint")
    assert hints <= 1, f"{hints} broadcast hints; only the 1-row n_extra is allowed"
    if hints == 1:
        seg = "\n".join(logical[logical.index("ResolvedHint") :].split("\n")[:2])
        assert "n_extra" in seg, "broadcast hint is not the 1-row n_extra aggregate"


def test_ivfd_probe_scan_is_partition_pruned(spark):
    """The on-disk IVF probe must read only the n_probe=4 cluster
    directories: the assigned-table scan carries a PartitionFilters
    clause with a literal 4-value IN over the cluster partition column
    (files of the other 12 clusters are never opened)."""
    import re

    p = plan_of(spark, "sim_ivfd_topk")
    m = re.search(r"PartitionFilters: \[cluster#\d+ IN \(([^)]*)\)\]", p)
    assert m, "probe scan has no cluster IN (...) PartitionFilters"
    assert len(m.group(1).split(",")) == 4


def test_q6_full_pushdown_and_pruning(spark):
    """The scan-bound query: every predicate reaches the parquet scan
    and only the 4 referenced columns are read."""
    p = plan_of(spark, "q6_forecast_revenue")
    assert "GreaterThanOrEqual(l_shipdate" in p and "LessThan(l_quantity,24.0)" in p
    assert "GreaterThanOrEqual(l_discount,0.05)" in p
    assert "l_orderkey" not in p and "l_returnflag" not in p


def test_q19_disjunction_pushed_to_both_scans(spark):
    """Catalyst extracts the common OR-of-AND bounds as pushable
    conjuncts on BOTH sides of the join (naive plans filter only
    post-join)."""
    p = plan_of(spark, "q19_disjunctive_rev")
    pushed = [l for l in p.splitlines() if "PushedFilters" in l]
    assert any("l_quantity" in l and "Or(" in l for l in pushed)
    assert any("p_brand" in l and "Or(" in l for l in pushed)
    assert "BroadcastHashJoin" in p


def test_q4_exists_is_semi_join(spark):
    """Correlated EXISTS compiles to ONE LeftSemi join — no distinct,
    no fan-out, no subquery re-execution."""
    p = plan_of(spark, "q4_order_priority")
    assert "LeftSemi" in p
    assert "HashAggregate" in p


def test_q21_semi_and_anti(spark):
    p = plan_of(spark, "q21_waiting_supplier")
    assert "LeftSemi" in p and "LeftAnti" in p


def test_sim_ivfm_no_global_window(spark):
    """The oracle-backed IVF variant must keep the scale-safe centroid
    selection: no Window, final top-k as TakeOrdered."""
    p = plan_of(spark, "sim_ivfm_topk")
    assert "Window" not in p
    assert "TakeOrderedAndProject" in p
    # same no-corpus-shuffle property as the xxhash twin
    assert "hashpartitioning(vec_id" not in p


def test_o2_sort_is_range_partitioned(spark):
    """A no-limit global sort must compile to a parallel range-
    partitioned sort (Exchange rangepartitioning), never a top-k heap
    (that's o1) and never a single-partition coalesce."""
    p = plan_of(spark, "o2_global_sort")
    assert "rangepartitioning" in p
    assert "Sort" in p


# --------------------------------------------------------------------------
# round-3 curation operators
# --------------------------------------------------------------------------


def test_qc1_zero_shuffle(spark):
    """Quality scoring is a pure narrow projection — any Exchange in
    this plan means someone added an accidental aggregation."""
    p = plan_of(spark, "qc1_quality_score")
    assert "Exchange" not in p


def test_ed1_blocked_join_is_hash_not_nested_loop(spark):
    """Length blocking must compile to equi-joins; a BETWEEN length
    condition silently degrades to a nested-loop (all-pairs) join."""
    p = plan_of(spark, "ed1_editdist_join")
    assert "NestedLoop" not in p and "CartesianProduct" not in p


def test_bf1_bloom_prunes_before_semi_join(spark):
    """The bloom probe must filter the fact side BEFORE the exact semi
    join, and the fact scan must read only the 3 surfaced columns."""
    p = plan_of(spark, "bf1_bloom_semi_join")
    assert "LeftSemi" in p
    # bitmap test appears as a bitwise-and filter on the probe side
    assert p.count("&") >= 1 or "bitwise" in p.lower()
    assert "o_orderdate" not in p and "o_orderpriority" not in p


def test_knn1_broadcasts_query_batch(spark):
    """The bounded query batch broadcasts into the pair join — the
    corpus explode must never be the shuffled side of a sort-merge."""
    p = plan_of(spark, "knn1_knn_join")
    assert p.count("BroadcastHashJoin") >= 2
    assert "CartesianProduct" not in p


def test_emb2_single_aggregation_exchange(spark):
    """Centroids are one partial+final aggregation: exactly one
    Exchange (the (label, pos) hash partitioning), with map-side
    combine visible as two HashAggregate levels."""
    p = plan_of(spark, "emb2_cluster_centroids")
    # formatted explain names each node twice (tree + details)
    assert p.count("Exchange") == 2
    assert p.count("HashAggregate") >= 2


def test_tri1_edges_cached(spark):
    """The edge table feeds three joins; the plan must read it from
    cache, not recompute the co-occurrence build per consumer."""
    p = plan_of(spark, "tri1_triangle_count")
    assert "InMemoryTableScan" in p


def test_hll1_two_phase_sketch(spark):
    """Sketch partials then union-merge: two aggregation layers (the
    datasketches aggregate runs as ObjectHashAggregate)."""
    p = plan_of(spark, "hll1_sketch_union")
    assert "ObjectHashAggregate" in p


def test_ts2_single_exchange(spark):
    """The lead() window and the per-user aggregation share the
    user_id hash partitioning — the whole rollup is ONE Exchange."""
    p = plan_of(spark, "ts2_time_weighted_avg")
    assert p.count("Exchange (") == 1
    assert "Window" in p


def test_an1_stats_broadcast_back(spark):
    """Group moments (a tiny aggregate) broadcast back onto the event
    stream — scoring adds no shuffle of the fact side."""
    p = plan_of(spark, "an1_zscore_outliers")
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_cp1_two_shuffles_no_joins(spark):
    """The fused curation pipeline is scan → filters → fingerprint
    window → shard window: exactly two Exchanges and ZERO joins —
    Catalyst folds the quality gate and both hash samples into the
    scan stage."""
    p = plan_of(spark, "cp1_curation_pipeline")
    assert p.count("Exchange (") == 2
    assert "Join" not in p


def test_dc1_broadcast_bench_and_cached_shingles(spark):
    """Decontamination must broadcast the benchmark shingle set (never
    shuffle the corpus for it) and read the persisted shingle explode
    from cache for all three consumers."""
    p = plan_of(spark, "dc1_decontamination")
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p
    assert "InMemoryTableScan" in p


def test_q2_limit_is_take_ordered(spark):
    """q2's LIMIT 100 over a total order must be TakeOrdered (per-
    partition top-k + single merge), never a global sort."""
    p = plan_of(spark, "q2_min_cost_supplier")
    assert "TakeOrderedAndProject" in p
    assert "Exchange rangepartitioning" not in p


def test_cdc1_single_shuffle_with_partial_agg(spark):
    """Changelog compaction is ONE hash shuffle with map-side partial
    max_by — per-key state is one row, not the version history."""
    p = plan_of(spark, "cdc1_changelog_compact")
    assert p.count("Exchange (") == 1
    assert "partial_max_by" in p


def test_zorder1_no_corpus_shuffle(spark):
    """The z-key is a per-row projection: the orders side must never
    shuffle — only the 1-row bounds aggregate exchanges."""
    p = plan_of(spark, "zorder1_morton_layout")
    assert "SortMergeJoin" not in p and "ShuffledHashJoin" not in p
    assert "Exchange hashpartitioning" not in p
    assert "BroadcastNestedLoopJoin" in p  # 1-row bounds cross join


def test_pq1_encode_is_broadcast_only(spark):
    """PQ encoding never shuffles the embedding column: codebooks are
    collected to one row and broadcast; the corpus side is scan +
    transform only."""
    p = plan_of(spark, "pq1_product_quantize")
    assert "SortMergeJoin" not in p
    # the only hash exchanges belong to the tiny centroid-id groupBys
    # (2 per subspace: partial/final), never the embeddings scan
    assert "Exchange hashpartitioning(vec_id" not in p


def test_dq4_checksum_single_pass(spark):
    """The table checksum is one groupBy with map-side combine — the
    audit must not cost more than a scan."""
    p = plan_of(spark, "dq4_table_checksum")
    assert p.count("Exchange (") == 1
    # partial (map-side) aggregate below the exchange, final above
    assert p.count("HashAggregate") >= 2


def test_sub1_shuffles_hashes_not_text(spark):
    """Duplicated-span accounting shuffles the md5 of each window,
    never the document text."""
    p = plan_of(spark, "sub1_duplicate_spans")
    assert "CartesianProduct" not in p
    # text is pruned before every exchange: the only scan carrying
    # `text` feeds a projection that drops it for the hash key
    for line in p.splitlines():
        if "Exchange hashpartitioning" in line:
            assert "text" not in line


def test_corr1_single_exchange_two_sorts(spark):
    """Both rank windows partition on event_type: one hash exchange,
    reused by the two sorts, then partial-agg'd groupBy on the same
    key — no second shuffle for the aggregation."""
    p = plan_of(spark, "corr1_spearman")
    assert p.count("Exchange (") == 1
    assert p.count("HashAggregate") >= 2  # partial + final


def test_an3_single_exchange_stacked_windows(spark):
    """rank + count + wall-lookup windows all share the event_type
    partitioning: exactly one exchange in the whole plan."""
    p = plan_of(spark, "an3_winsorize")
    assert p.count("Exchange (") == 1


def test_fe1_windows_and_agg_share_partitioning(spark):
    """The user_id hash exchange feeds row_number, count, and the
    final groupBy without re-shuffling."""
    p = plan_of(spark, "fe1_decayed_activity")
    assert p.count("Exchange (") == 1


def test_itv1_single_exchange(spark):
    """Both island windows and the (user, island) groupBy ride one
    user_id exchange: island is a refinement of the window key."""
    p = plan_of(spark, "itv1_merge_intervals")
    assert p.count("Exchange (") == 1


def test_att1_single_window_no_join(spark):
    """Attribution is the window rewrite of a purchase×touch interval
    self-join: the plan must contain a RANGE-frame window and no join
    at all."""
    p = plan_of(spark, "att1_linear_attribution")
    assert "Join" not in p
    assert p.count("Exchange (") == 1


def test_lm1_rank_join_is_broadcast(spark):
    """The vocabulary rank table joins back onto the exploded corpus
    as a broadcast — the corpus-sized side must never shuffle for the
    join."""
    p = plan_of(spark, "lm1_unigram_rank_score")
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_bpe1_take_ordered_partial_agg(spark):
    """Pair counting is map-side combined and the top-k is TakeOrdered
    — no global sort of the pair table."""
    p = plan_of(spark, "bpe1_merge_step")
    assert "TakeOrderedAndProject" in p
    assert "Exchange rangepartitioning" not in p


def test_zone1_single_pass(spark):
    """Zone-map stats are one scan + one partial-agg'd groupBy."""
    p = plan_of(spark, "zone1_zonemap_stats")
    assert p.count("Exchange (") == 1
    assert p.count("HashAggregate") >= 2


def test_dq6_totals_broadcast_back(spark):
    """The 1-row totals aggregate broadcast-joins onto the key counts
    (dq3's always-one-row pattern); top-N is TakeOrdered."""
    p = plan_of(spark, "dq6_skew_profile")
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p
    assert "TakeOrderedAndProject" in p


def test_wmed1_single_exchange(spark):
    """Running weight sum, total-weight window and the final groupBy
    all share the l_returnflag partitioning: one Exchange."""
    p = plan_of(spark, "wmed1_weighted_median")
    assert p.count("Exchange (") == 1


def test_cos1_cap_filter_precedes_self_join(spark):
    """The df <= cap stop-term filter must sit below the term-keyed
    self-join (bounding fan-out to C(cap,2) per term), and the 1-row
    corpus count must broadcast, never shuffle the weighted postings."""
    import re

    p = plan_of(spark, "cos1_tfidf_cosine_pairs")
    details = p[p.index("(1) ") :]
    # the df <= cap stop-term filter node
    m_f = re.search(r"\((\d+)\) Filter\n[^\n]*\nCondition : \(df#\d+L? <= 20\)", details)
    assert m_f, "df <= 20 stop-term Filter missing from the plan"
    # the pair self-join: the only join whose condition is doc_a < doc_b
    m_j = re.search(
        r"\((\d+)\) BroadcastHashJoin\n(?:[^\n]+\n)*?"
        r"Join condition: \(doc_id#\d+L? < doc_id#\d+L?\)",
        details,
    )
    assert m_j, "doc_id < doc_id pair self-join missing from the plan"
    # In formatted explain the tree prints parents before children, so the
    # cap filter sitting in the pair join's child subtree means its tree
    # line appears AFTER the join's. If a refactor lifted the filter above
    # the join (filtering pairs instead of postings), this flips.
    tree = p[: p.index("(1) ")]
    join_pos = tree.index(f"({m_j.group(1)})")
    filter_pos = tree.index(f"Filter ({m_f.group(1)})")
    assert join_pos < filter_pos, "df cap filter is not below the pair self-join"


@pytest.mark.parametrize("name", ["split2_cluster_split", "d6_dedup_clusters"])
def test_cluster_ops_use_capped_pair_graph(spark, name):
    """The cluster-level dedup consumers (connected components, the
    leakage-safe split) must build their pair graph through the CAPPED
    Jaccard path: the df <= 20 stop-shingle filter present, and NO join
    keyed on the shingle column anywhere in the physical plan (the
    capped path enumerates pairs from the bounded per-shingle doc
    array; a shingle-keyed self-join is the uncapped quadratic shape
    that dies at 100 TB)."""
    import re

    # The connected-components rounds now localCheckpoint (lineage
    # truncated to a LogicalRDD leaf), so the pair-building subplan is
    # no longer visible THROUGH the cluster query's plan — assert the
    # cap on the pair builder these consumers share, then assert the
    # consumer's own visible plan stays shingle-join-free.
    from aqi_analysis_apache_airflow_spark.functions.dedup import (
        ngram_jaccard_pairs,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    pair_df = ngram_jaccard_pairs(docs, threshold=0.5, max_doc_freq=20)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        pair_df.explain("formatted")
    pair_plan = buf.getvalue()
    assert "<= 20)" in pair_plan, "df <= 20 stop-shingle cap missing"
    for plan_text in (pair_plan, plan_of(spark, name)):
        details = plan_text[plan_text.index("(1) ") :]
        for blk in re.split(r"\n\n", details):
            head = blk.split("\n", 1)[0]
            if "Join" in head:
                keys = "\n".join(
                    ln
                    for ln in blk.split("\n")
                    if ln.startswith(("Left keys", "Right keys"))
                )
                assert "shingle" not in keys, f"shingle-keyed join in {name}: {head}"


def test_seq1_one_sort_two_lags(spark):
    """Both lag offsets ride one (user, time) sort: a single Exchange
    for the window, one more for the tiny trigram aggregation."""
    p = plan_of(spark, "seq1_event_trigrams")
    assert p.count("Window (") == 1
    assert p.count("Exchange (") <= 2


def test_late1_single_user_exchange(spark):
    """The per-user high-water-mark window and the hour-window rollup:
    user exchange + hour-key exchange, nothing else, no join."""
    p = plan_of(spark, "late1_restatement_plan")
    assert "Join" not in p
    assert p.count("Exchange (") == 2


def test_dq7_total_broadcast(spark):
    """The 1-row total joins back by broadcast; the digit groupBy is
    partial-aggregated."""
    p = plan_of(spark, "dq7_benford_digits")
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p
    assert p.count("HashAggregate") >= 2


def test_mw1_corpus_stage_is_one_groupby(spark):
    """The only corpus-sized operation is the value-key groupBy; the
    domain window and final rollup run on value-domain-sized data."""
    p = plan_of(spark, "mw1_mann_whitney")
    assert p.count("Window (") == 1
    assert "Join" not in p


def test_ivm1_partials_prune_on_cutover(spark):
    """Both partial scans push the cutover date predicate into the
    parquet scan; the verification join is a broadcast."""
    p = plan_of(spark, "ivm1_partial_merge")
    assert "LessThan(o_orderdate" in p and "GreaterThanOrEqual(o_orderdate" in p
    assert "BroadcastHashJoin" in p


def test_grp1_rank_filter_before_final_agg(spark):
    """The rk <= 3 filter bounds the aggregation input to N rows per
    group; the dim join is broadcast."""
    p = plan_of(spark, "grp1_group_top3_concat")
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_den1_sparse_cells_broadcast(spark):
    """The sparse-cell list joins back by broadcast — the fact side is
    never shuffled for the flag join."""
    p = plan_of(spark, "den1_grid_density")
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_wmed2_no_full_group_sort_merge(spark):
    """The banded twin must keep every join broadcast (crossing/prefix
    are |groups|-sized) and never sort-merge the fact; its only fact
    sort happens after the crossing-band semi-filter."""
    p = plan_of(spark, "wmed2_weighted_median_banded")
    assert "SortMergeJoin" not in p
    assert "BroadcastHashJoin" in p


def test_ret1_topk_and_posting_filter_before_shuffle(spark):
    """BM25: the query-term filter must sit below the tf/df
    aggregations (only matching postings shuffle), and the global
    top-k must be TakeOrderedAndProject, never a full sort."""
    p = plan_of(spark, "ret1_bm25_topk")
    assert "TakeOrderedAndProject" in p
    # corpus stats fold in as broadcasts, not driver-side counts
    assert "BroadcastHashJoin" in p or "BroadcastNestedLoopJoin" in p


def test_shuf1_single_window_exchange(spark):
    """Deterministic shard: one hashpartitioning exchange on the shard
    key feeds the per-shard ordering — no extra repartition, no global
    sort."""
    p = plan_of(spark, "shuf1_deterministic_shard")
    assert p.count("hashpartitioning(") == 1
    assert "rangepartitioning" not in p


def test_gdpr1_cascade_is_semi_joins(spark):
    """Cascade delete: every cascade level is a LEFT SEMI join (only
    keys move) — never an inner join that would duplicate purged rows
    on fan-out, never a cartesian against a data relation."""
    p = plan_of(spark, "gdpr1_cascade_delete")
    assert "LeftSemi" in p
    assert "CartesianProduct" not in p


def test_mg1_sketch_is_one_python_stage(spark):
    """Misra–Gries: exactly one Arrow Python stage (the per-partition
    summaries); the merge is a plain JVM groupBy over summary rows —
    the corpus itself never enters Python twice."""
    import re

    # a previously-run mg1 (e.g. the parity suite) leaves its summary
    # cache behind; CacheManager then splices distinct InMemoryRelation
    # ids into the fresh plan — clear so the assertion sees one build
    spark.catalog.clearCache()
    p = plan_of(spark, "mg1_misra_gries_hh")
    # every MapInPandas reference is the SAME node, reached only
    # through the persisted summary table (InMemoryTableScan): the
    # sketch runs once, consumers read its cache
    ids = set(re.findall(r"MapInPandas \((\d+)\)", p))
    assert len(ids) == 1, f"multiple distinct Python stages: {ids}"
    assert "InMemoryTableScan" in p


def test_anon1_single_aggregate_no_join(spark):
    """k-anonymity: one groupBy on the QI tuple, no join anywhere."""
    p = plan_of(spark, "anon1_k_anonymity")
    assert "Join" not in p


def test_hn1_norms_computed_once_anchors_broadcast(spark):
    """Hard negatives: the corpus joins a BROADCAST anchor table
    (never a shuffle join on the pair fan-out), and per-anchor top-k
    is a window over reduced (ids, score) rows — no second corpus
    shuffle."""
    p = plan_of(spark, "hn1_hard_negatives")
    assert "BroadcastHashJoin" in p or "BroadcastNestedLoopJoin" in p
    assert "SortMergeJoin" not in p


def test_sch1_merged_scan_prunes_columns(spark):
    """Schema evolution: the merged read projects only the audit
    columns; o_custkey must never reach the scan."""
    spark.catalog.clearCache()
    p = plan_of(spark, "sch1_schema_evolution")
    assert "o_custkey" not in p


def test_place1_zero_shuffle_zero_join(spark):
    """Rendezvous placement must be a pure projection: no Exchange, no
    Join — the N per-node scores are codegen'd column expressions."""
    p = plan_of(spark, "place1_rendezvous_owner")
    assert "Exchange" not in p
    assert "Join" not in p


def test_lr1_window_is_source_sized(spark):
    """Apportionment's only window orders the n_sources weight table,
    never documents: the corpus contributes one aggregation and the
    token column must be pruned to text+source at the scan."""
    p = plan_of(spark, "lr1_budget_apportionment")
    assert "doc_id" not in p


def test_d9_single_window_no_join_after_components(spark):
    """d9's keep-best decision is ONE count/argmax window over the
    component map — no groupBy + join-back of a best-per-cluster
    table. The only joins in the plan are the pair machinery and the
    component left-join; a per-cluster aggregate joined back would
    add a join keyed on cluster_id."""
    p = plan_of(spark, "d9_canonical_best")
    assert "Window" in p
    import re

    assert not re.search(r"Join.*\[cluster_id", p), (
        "per-cluster aggregate join-back found; d9 should use a window"
    )


def test_rp1_sign_matrix_broadcast_no_cartesian(spark):
    """rp1's 64x12 sign matrix must arrive at the element stream via a
    broadcast hash join on dimension index (never a shuffle of the
    exploded elements against it, never a cartesian), and candidate
    pairing must be an equi-join on the full signature."""
    p = plan_of(spark, "rp1_hyperplane_lsh")
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p
    assert "sig16" in p


def test_dsir1_weights_broadcast_single_explode(spark):
    """dsir1's 256-row weight table must BROADCAST back onto the
    per-(doc, bucket) counts (scoring may not shuffle the corpus
    against it), and the token explode must appear exactly once in
    the physical plan — the persisted diamond feeds both the bucket
    table and the scorer."""
    p = plan_of(spark, "dsir1_importance_rank")
    assert "BroadcastHashJoin" in p
    import re

    # one Generate NODE in the detail section: the tree may print the
    # shared subtree twice, but a second distinct explode would get
    # its own node id
    assert len(set(re.findall(r"\((\d+)\) Generate", p))) == 1


def test_d10_cap_filter_and_single_direction_explode(spark):
    """d10's containment pairs must come from the capped machinery
    (df <= 20 stop-shingle filter present) with both pair directions
    emitted by ONE 2-array explode of the intersection rows, not a
    union that would compute the intersection subtree twice."""
    p = plan_of(spark, "d10_containment")
    assert "<= 20" in p
    assert "Union" not in p


def test_ovr1_bounded_pairs_broadcast_sizes(spark):
    """ovr1's source-pair enumeration must come from the local
    bounded-array transform (no shingle self-join → no SortMergeJoin
    on the shingle column), and the tiny per-source size table must
    re-attach by broadcast."""
    p = plan_of(spark, "ovr1_source_overlap")
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p
    # the only joins are the two size attaches — a shingle-keyed join
    # would surface the shingle column in a join condition
    assert "SortMergeJoin [shingle" not in p


def test_snm1_no_single_partition_rank(spark):
    """snm1's global rank must be the two-pass distributed recipe: a
    window partitioned by the range-partition id, never the
    single-partition `Window [... ORDER BY key]` that serializes the
    corpus through one task."""
    import re

    p = plan_of(spark, "snm1_sorted_neighborhood")
    # every Window node must carry a partition spec (partitionBy pid);
    # an empty global-order window prints as windowspecdefinition(key ...
    # with no partition expressions before the ORDER BY part
    for m in re.finditer(r"windowspecdefinition\(([^)]*)\)", p):
        spec = m.group(1)
        assert spec.split(",")[0].strip().startswith("pid"), spec
    assert "CartesianProduct" not in p


def test_d11_single_explode_single_window(spark):
    """d11's segments must come from ONE explode (the non-overlapping
    segmenter), the keep-first decision from ONE hash-partitioned
    window on the segment text, with no join anywhere — retention is
    a pure groupBy rollup of the windowed rows."""
    import re

    p = plan_of(spark, "d11_segment_dedup")
    assert len(set(re.findall(r"\((\d+)\) Generate", p))) == 1
    assert "Join" not in p
    assert "CartesianProduct" not in p


def test_trunc1_pruned_scan_single_aggregate(spark):
    """trunc1 reads only (source, text) off the documents scan and is
    one map-side-combined groupBy — no join, no window, no explode."""
    p = plan_of(spark, "trunc1_truncation_loss")
    assert "doc_id" not in p and "lang" not in p
    assert "Join" not in p and "Window" not in p and "Generate" not in p
    assert p.count("Exchange (") == 1  # node list; details repeat as "(N) Exchange"


def test_cal1_broadcast_spine_bounded_postagg(spark):
    """cal1's threshold spine joins the ≤5-row pass-count buckets as a
    broadcast (never a sort-merge over the corpus), and the corpus is
    touched by exactly the two narrow aggregations — every join input
    after them is broadcast-sized."""
    p = plan_of(spark, "cal1_quality_gate_sweep")
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p
    assert "doc_id" not in p and "lang" not in p


def test_oov1_vocab_broadcast_no_sortmerge(spark):
    """oov1's coverage mark must join the exploded token stream to the
    100-row vocab as a broadcast hash join — a sort-merge there would
    shuffle the whole exploded corpus on token. The vocab cut itself
    is a TakeOrdered heap, never a global Sort."""
    p = plan_of(spark, "oov1_vocab_coverage")
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p
    assert "TakeOrderedAndProject" in p


def test_emb5_centroids_broadcast_no_corpus_sortmerge(spark):
    """emb5's distance join must attach the n_labels × dim centroid
    table to the exploded corpus as a broadcast hash join; the only
    exchanges are the two map-side-combined aggregations (centroid
    reduce, per-vector distance) plus the label-totals attach — never
    a sort-merge shuffling the exploded corpus on (label, pos)."""
    p = plan_of(spark, "emb5_centroid_outliers")
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p
