"""Registry hygiene: properties the driver contract silently depends on."""

from __future__ import annotations

import shutil

from conftest import jobs_started

from aqi_analysis_apache_airflow_spark.plans import REGISTRY


def test_bench_headline_names_exist():
    import bench

    missing = [n for n in bench.HEADLINE if n not in REGISTRY]
    assert not missing, f"bench names not in registry: {missing}"


def test_query_names_unique_and_wellformed():
    for name in REGISTRY:
        assert name.replace("_", "").isalnum(), name


def test_every_oracle_query_in_some_adversarial_suite():
    """Sentinel for the hostile-input coverage contract: every
    oracle-backed registry query must land in at least one adversarial
    suite's derived list. All seven suites derive from the registry by
    oracle table references, so this only fires if a new query's table
    mix matches no suite (e.g. a brand-new table) — add a suite or a
    documented exemption here, never a silent gap."""
    import tests.test_adversarial_corpus as tc
    import tests.test_adversarial_embeddings as te
    import tests.test_adversarial_events as tev
    import tests.test_adversarial_lineitem as tl
    import tests.test_adversarial_multitable as tm
    import tests.test_adversarial_orders as to
    import tests.test_adversarial_tpch as tt

    covered = (
        set(tc.DOC_QUERIES)
        | set(te.EMB_QUERIES)
        | set(to.ORDERS_QUERIES)
        | set(tl.LINEITEM_QUERIES)
        | set(tev.EVENT_QUERIES)
        | set(tm.MULTI_QUERIES)
        | set(tt.TPCH_QUERIES)
    )
    oracle_backed = {n for n, q in REGISTRY.items() if q.oracle is not None}
    uncovered = sorted(oracle_backed - covered)
    assert not uncovered, f"queries in no adversarial suite: {uncovered}"


_LOOP = "iterates to convergence; each round runs jobs"
_PIN = "pins an intermediate with a local checkpoint"
_WRITE = "writes files that the returned plan reads, once per session and input"

#: Queries that start Spark jobs while their plan is built, and why.
#: Every other query must build with none: corpus reads take their
#: schema from the parquet footer. st1-st5, st7 and st8 run their
#: streams at build time too, but a stream's jobs run in the stream's
#: own job group, so they do not count here.
BUILD_JOBS = {
    "acf1_daily_autocorrelation": _PIN,
    "assort1_degree_assortativity": _PIN,
    "bpe2_merge_training": _LOOP,
    "bpe3_compression_curve": _LOOP,
    "d6_dedup_clusters": _LOOP + " (connected components)",
    "d9_canonical_best": _LOOP + " (connected components)",
    "drm1_domain_reweight": _PIN,
    "fmt1_multiformat_roundtrip": _WRITE,
    "funnel1_ordered_conversion": "collects the distinct-user count as a scalar",
    "gr1_pagerank": _LOOP,
    "gr2_fixed_point_pagerank": _LOOP,
    "hits1_hubs_authorities": _LOOP,
    "kcore1_kcore_peeling": _LOOP,
    "kcore2_fixed_point_core": _LOOP,
    "km1_lloyd_kmeans": _LOOP + " (Lloyd rounds)",
    "kn1_kneser_ney_bigram": _PIN,
    "lpa2_fixed_point_communities": _LOOP,
    "markov2_stationary_distribution": _LOOP + " over pinned transitions",
    "mk1_trend_test": _PIN,
    "mmr1_diversified_topk": _PIN + " per selection round",
    "pacf1_partial_autocorrelation": _PIN,
    "ppmi1_sppmi_pairs": _PIN,
    "sch1_schema_evolution": _WRITE,
    "sil1_cluster_silhouette": _LOOP + " (the km1 fit)",
    "sim_ivfd_topk": "collects the ids of the clusters it probes",
    "snm1_sorted_neighborhood": "collects per-partition counts for the rank offsets",
    "snm2_blocking_recall": "collects per-partition counts for the rank offsets",
    "sp1_shortest_path": _LOOP + " (one round per hop)",
    "split2_cluster_split": _LOOP + " (connected components)",
    "st6_stream_merge_upsert": "writes and collects its seeded warehouse table",
}


def _session_state(spark):
    """The session conf and temp-view names a query could leave behind."""
    views = sorted(t.name for t in spark.catalog.listTables() if t.isTemporary)
    return spark.conf.getAll, views


def test_no_duplicate_output_columns(spark, tmp_path):
    """The driver sorts columns by name before hashing values — a
    duplicate column name would silently corrupt the comparison.

    Building a plan starts no Spark job unless the query is listed in
    ``BUILD_JOBS``: a corpus read that infers its schema would start
    one per table, every time the query is built. Nor does it change
    the caller's session: its conf and temp views read the same after
    every build. The corpus is a fresh copy, so each build is the
    first of its query over that input in the session, and the writers
    write."""
    sf = str(tmp_path / "corpus")
    shutil.copytree("/root/testdata/sf0.001", sf)
    started = {}
    before = _session_state(spark)
    for name, q in sorted(REGISTRY.items()):
        with jobs_started(spark.sparkContext) as ids:
            cols = q.fn(spark, sf).columns
        assert len(cols) == len(set(cols)), f"{name}: duplicate columns {cols}"
        started[name] = len(ids)
        assert _session_state(spark) == before, f"{name} changed the session"
    unlisted = {n: k for n, k in started.items() if k and n not in BUILD_JOBS}
    assert not unlisted, f"jobs started while building: {unlisted}"
    stale = sorted(n for n in BUILD_JOBS if not started[n])
    assert not stale, f"BUILD_JOBS entries that started no job: {stale}"


def test_bench_block_map_frozen_capacity():
    """Block-mode comparability contract: HEADLINE is append-only and
    duplicate-free, so consecutive BLOCK_CAPACITY slices have frozen
    membership; every full block must hold exactly BLOCK_CAPACITY
    queries, and block 1 still opens with q1, as in every recorded
    BENCH_r*.json run."""
    import bench

    assert len(bench.HEADLINE) == len(set(bench.HEADLINE))
    blocks = bench.headline_blocks()
    for b in blocks[:-1]:
        assert len(b) == bench.BLOCK_CAPACITY
    assert 0 < len(blocks[-1]) <= bench.BLOCK_CAPACITY
    assert blocks[0][0] == "q1_pricing_summary"


def test_bench_times_every_registry_query():
    """bench.py times HEADLINE in blocks and the st* streams in their
    own child; a registry query in neither would go silently untimed."""
    import bench

    st_names = {n for n in REGISTRY if n.startswith("st")}
    assert set(REGISTRY) == set(bench.HEADLINE) | st_names
    assert not st_names & set(bench.HEADLINE)


def test_bench_stdout_line_contract(capsys):
    """bench.py's consumer keeps only the last 2,000 chars of stdout:
    the one line must be JSON, fit the 1,900-char budget with all 363
    headline queries, and carry exactly the published keys."""
    import json

    import bench

    times = {n: 0.05 + i / 100 for i, n in enumerate(bench.HEADLINE)}
    bench._print_line(
        total=sum(times.values()),
        queries=times,
        sf=0.1,
        n_passes=3,
        st_total=12.345,
    )
    line = capsys.readouterr().out.strip()
    assert "\n" not in line and len(line) <= 1900
    payload = json.loads(line)
    assert set(payload) == {
        "metric", "value", "unit", "queries", "sf", "passes", "detail", "st_total",
    }
    assert payload["st_total"] == 12.35
    assert "zz_others" in payload["queries"]
    assert payload["value"] == round(sum(times.values()), 2)
