"""Registry hygiene: properties the driver contract silently depends on."""

from __future__ import annotations

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


def test_no_duplicate_output_columns(spark):
    """The driver sorts columns by name before hashing values — a
    duplicate column name would silently corrupt the comparison."""
    sf = "/root/testdata/sf0.001"
    for name, q in sorted(REGISTRY.items()):
        cols = q.fn(spark, sf).columns
        assert len(cols) == len(set(cols)), f"{name}: duplicate columns {cols}"


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
