"""Near-dup + similarity correctness on planted duplicates (the
rows-only queries' substitute for a SQL oracle)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from aqi_analysis_apache_airflow_spark.functions.dedup import (
    JACCARD_THRESHOLD,
    SIMHASH_MAX_HAMMING,
    lsh_candidate_pairs,
    minhash_signatures,
    ngram_jaccard_pairs,
    simhash_band_pairs,
)
from aqi_analysis_apache_airflow_spark.functions.multimodal import (
    documents_as_media,
    extract_binary_features,
)
from aqi_analysis_apache_airflow_spark.functions.similarity import brute_force_topk

BASE = (
    "the quick brown fox jumps over the lazy dog while the merge join "
    "shuffles partitions across the cluster and the optimizer prunes "
    "columns before the scan starts reading row groups from parquet"
)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, BASE),
        (2, BASE),  # exact duplicate
        (3, BASE.replace("lazy dog", "sleepy cat")),  # near duplicate
        (4, "completely different text about airflow dags and postgres tables"),
        (5, "short text"),
        (6, ""),  # empty: must not crash shingling
    ]
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def test_exact_jaccard_finds_planted_pairs(docs):
    pairs = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(docs, allow_quadratic=True).collect()
    }
    assert pairs[(1, 2)] == 1.0
    assert JACCARD_THRESHOLD <= pairs[(1, 3)] < 1.0
    assert (1, 4) not in pairs


def test_uncapped_jaccard_requires_explicit_opt_in(docs):
    """The quadratic (uncapped) branch must never be reachable by
    accident: no cap and no opt-in flag raises before any job runs."""
    import pytest

    with pytest.raises(ValueError, match="quadratic"):
        ngram_jaccard_pairs(docs)


def test_minhash_lsh_agrees_with_exact(docs):
    sigs = minhash_signatures(docs)
    est = {
        (r["doc_a"], r["doc_b"]): r["est_jaccard"]
        for r in lsh_candidate_pairs(sigs).collect()
    }
    assert est[(1, 2)] == 1.0          # identical docs always collide
    assert (1, 3) in est               # near-dups land in ≥1 shared band
    assert est[(1, 3)] > 0.3
    assert est.get((1, 4), 0.0) < 0.3  # unrelated docs don't score high


def test_lsh_plan_construction_is_lazy(spark, docs):
    """Building the LSH plan must trigger NO Spark job (the old code
    ran the whole minhash aggregation via ``first()`` just to learn
    the signature length) — so it also works on an empty corpus."""
    empty = docs.filter(F.lit(False))
    sigs = minhash_signatures(empty)
    out = lsh_candidate_pairs(sigs)  # no action, no crash
    assert out.count() == 0
    tracker = spark.sparkContext.statusTracker()
    before = len(tracker.getJobIdsForGroup(None) or [])
    lsh_candidate_pairs(minhash_signatures(docs))
    after = len(tracker.getJobIdsForGroup(None) or [])
    assert after == before, "plan construction launched a Spark job"


def test_simhash_bands(docs):
    got = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in simhash_band_pairs(docs).collect()
    }
    assert got[(1, 2)] == 0
    # the near duplicate differs in 5 bits, past the bound
    assert (1, 3) not in got
    assert (1, 4) not in got
    assert max(got.values()) <= SIMHASH_MAX_HAMMING


def test_embedding_topk_and_lsh(spark):
    # deterministic synthetic embeddings: vec 0's near-twin is 100
    import math

    def vec(seed, dim=16):
        return [math.sin(seed * 7.1 + i) for i in range(dim)]

    rows = [(i, vec(i)) for i in range(1, 60)]
    rows.append((100, [v + 0.01 for v in vec(0)]))
    emb = spark.createDataFrame(
        [(0, vec(0))] + rows, "vec_id bigint, embedding array<double>"
    )
    q = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    top = brute_force_topk(emb.filter("vec_id != 0"), q, k=3).collect()
    assert top[0]["vec_id"] == 100 and top[0]["cosine_sim"] > 0.999


def test_multimodal_stub_plumbing(spark, docs):
    feats = {
        r["doc_id"]: (r["n_bytes"], r["content_id"])
        for r in extract_binary_features(documents_as_media(docs)).collect()
    }
    assert feats[1][0] == len(BASE.encode())
    assert feats[1][1] == feats[2][1]      # same bytes → same content id
    assert feats[1][1] != feats[3][1]
    assert feats[6][0] == 0                # empty payload handled


def test_ivf_topk_recall(spark):
    """Clustered synthetic data: IVF with a quarter of the clusters
    probed must still recover most of the exact top-k."""
    import math

    rows = []
    for c in range(8):                      # 8 well-separated clusters
        base = [10.0 * math.sin(c * 13.7 + i) for i in range(16)]
        for j in range(40):
            rows.append(
                (c * 100 + j, [v + 0.05 * math.cos(j * 3.1 + i) for i, v in enumerate(base)])
            )
    emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    q = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    corpus = emb.filter(F.col("vec_id") != 0)

    from aqi_analysis_apache_airflow_spark.functions.similarity import (
        IVF_K,
        brute_force_topk,
        ivf_topk,
    )

    exact = {r["vec_id"] for r in brute_force_topk(corpus, q, k=IVF_K).collect()}
    approx = {r["vec_id"] for r in ivf_topk(corpus, q).collect()}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.9, f"recall {recall}"


def test_connected_components_multihop(spark):
    """A 5-node path (needs multiple propagation rounds), a triangle,
    and an isolated pair all resolve to min-id components."""
    from aqi_analysis_apache_airflow_spark.functions.dedup import (
        connected_components,
    )

    pairs = spark.createDataFrame(
        # path 10-11-12-13-14 given as edges in arbitrary direction
        [(11, 10), (11, 12), (13, 12), (13, 14),
         # triangle 20-21-22
         (20, 21), (21, 22), (20, 22),
         # pair 30-31
         (30, 31)],
        "doc_a bigint, doc_b bigint",
    )
    got = {
        r["doc_id"]: r["cluster_id"]
        for r in connected_components(pairs).collect()
    }
    assert got == {10: 10, 11: 10, 12: 10, 13: 10, 14: 10,
                   20: 20, 21: 20, 22: 20,
                   30: 30, 31: 30}


def test_pii_redaction_fires(spark):
    """Planted PII is actually replaced (the corpus-level oracle match
    alone could be a no-op on a clean corpus)."""
    from aqi_analysis_apache_airflow_spark.plans import REGISTRY
    import aqi_analysis_apache_airflow_spark.plans.extended  # noqa: F401

    # reuse the registered query's exact expressions via a temp table
    docs = spark.createDataFrame(
        [
            (1, "contact me at jane.doe+x@example.co or 555-123-4567"),
            (2, "card 4111111111111111 should be masked"),
            (3, "clean text stays clean"),
            (4, "phone only: 555.987.6543"),
        ],
        "doc_id bigint, text string",
    )
    import tempfile

    d = tempfile.mkdtemp()
    docs.write.mode("overwrite").parquet(f"{d}/documents.parquet")
    out = {
        r["doc_id"]: (
            r["redacted"], r["had_email"], r["had_phone"], r["had_card"]
        )
        for r in REGISTRY["t8_pii_redact"].fn(spark, d).collect()
    }
    # a phone-only or card-only doc must still be flagged for
    # quarantine even though it contains no email
    assert out[1] == ("contact me at <EMAIL> or <PHONE>", True, True, False)
    assert out[2] == ("card <CARD> should be masked", False, False, True)
    assert out[3] == ("clean text stays clean", False, False, False)
    assert out[4] == ("phone only: <PHONE>", False, True, False)


def test_cluster_split_no_leakage(spark):
    """split2's defining property: no near-dup pair straddles the
    train/val boundary (both members of every exact-Jaccard pair land
    in the same split), and every doc is assigned exactly once."""
    from aqi_analysis_apache_airflow_spark.plans import REGISTRY

    sf_dir = "/root/testdata/sf0.001"
    split = REGISTRY["split2_cluster_split"].fn(spark, sf_dir).persist()
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    assert split.count() == docs.count()
    assert split.select("doc_id").distinct().count() == docs.count()

    pairs = ngram_jaccard_pairs(docs, max_doc_freq=None, allow_quadratic=True)
    a = split.select(
        F.col("doc_id").alias("doc_a"), F.col("split").alias("split_a")
    )
    b = split.select(
        F.col("doc_id").alias("doc_b"), F.col("split").alias("split_b")
    )
    crossing = (
        pairs.join(a, "doc_a")
        .join(b, "doc_b")
        .filter(F.col("split_a") != F.col("split_b"))
        .count()
    )
    assert crossing == 0
    split.unpersist()
