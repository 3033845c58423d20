"""Oracle parity on an ADVERSARIAL documents corpus: NULL text, empty
text, whitespace-only, single-token, pathological repetition, unicode.
The driver corpus is clean prose, so null/empty edge semantics (where
Spark and DuckDB genuinely differ — e.g. size(NULL), regexp on '')
never get exercised by the main parity sweep; this fixture forces
them. Derived from the registry (every documents-only oracle query
runs here, the orders/lineitem/events/multitable pattern), so new
corpus ops are covered automatically — the round-6 hand-maintained
list silently missed nine."""

from __future__ import annotations

import os
import re

import duckdb
import pandas as pd
import pytest

from aqi_analysis_apache_airflow_spark.plans import REGISTRY
from aqi_analysis_apache_airflow_spark.schemas import CORPUS_TABLES
from tests.test_oracle_parity import _canon_frame

_OTHERS = [t for t in CORPUS_TABLES if t != "documents"]


def _docs_only(name: str) -> bool:
    q = REGISTRY[name]
    if q.oracle is None or "documents" not in q.oracle:
        return False
    return not any(re.search(rf"\b{t}\b", q.oracle) for t in _OTHERS)


DOC_QUERIES = sorted(n for n in REGISTRY if _docs_only(n))

# the round-6 manual list, kept as a regression floor: derivation must
# never silently shrink below what was covered by hand
_MANUAL_FLOOR = [
    "qc1_quality_score",
    "qc2_repetition_filter",
    "t1_token_stats",
    "t2_lang_stopword_score",
    "t3_fingerprint",
    "d1_exact_dedup",
    "samp1_stratified_sample",
    "pack1_sequence_packing",
    "ws1_priority_sample",
    "mix1_temperature_mix",
    "pmi1_collocations",
    "ed1_editdist_join",
    "cp1_curation_pipeline",
    "dc1_decontamination",
    "dc2_exact_leak",
    "t10_topp_vocab",
    "m3_overlap_frames",
    "bpe1_merge_step",
    "lm1_unigram_rank_score",
    "gini1_lang_impurity",
    "cos1_tfidf_cosine_pairs",
    "mw1_mann_whitney",
    # <3-token docs: sequence(1, size-2) would count DOWN without the
    # short-doc guard (ADVICE r4) — this corpus has 0/1/2-token docs
    "sub1_duplicate_spans",
    # capped pair graph + connected components on a corpus where most
    # docs shingle to nothing (empty edge set must not break either side)
    "d2b_ngram_jaccard_capped",
    "d6_dedup_clusters",
    "split2_cluster_split",
    # round-5 widening: every remaining documents-only oracle query
    "t4_tfidf",
    "t5_bpe_tokens",
    "t7_text_clean",
    "t8_pii_redact",
    "t9_vocab_topk",
    "qc3_df_quality",
    "c1_chunk_text",
    "split1_train_val",
    "d2_ngram_jaccard",
    "d4_simhash_neardup",
    "d3m_minhash_md5",
    "d3v_minhash_verified",
    "d3_minhash_lsh",
    "d7_cross_source_dedup",
    "d8_incremental_dedup",
    "m1_binary_features",
    "ups1_epoch_plan",
    # round-6 widening: retrieval + corpus ops (NULL/empty/whitespace
    # docs must agree on tokenless documents: no postings, no bigrams,
    # but still a shard assignment)
    "ret1_bm25_topk",
    "lm2_bigram_predictability",
    "shuf1_deterministic_shard",
    "lr1_budget_apportionment",
    "place1_rendezvous_owner",
    "rh1_content_chunks",
    # round-6 additions: corpus overlap, sorted-neighborhood ER (NULL
    # sort keys coalesce to '' in both engines), segment dedup
    "ovr1_source_overlap",
    "snm1_sorted_neighborhood",
    "d11_segment_dedup",
    # round-6 additions: seq-len policy, gate sweep, vocab coverage
    # (NULL-text docs must count as zero-pass / zero-token on BOTH
    # engines; tokenless sources must vanish from oov1 identically)
    "trunc1_truncation_loss",
    "cal1_quality_gate_sweep",
    "oov1_vocab_coverage",
    "drift1_source_length_drift",
    "sw1_stopword_derivation",
]


def test_derivation_covers_manual_floor():
    missing = sorted(set(_MANUAL_FLOOR) - set(DOC_QUERIES))
    assert not missing, f"derived DOC_QUERIES lost manual coverage: {missing}"


_ROWS = [
    (0, None, "en", "web", 0),
    (1, "", "en", "web", 0),
    (2, "   \t  \n ", "en", "web", 8),
    (3, "single", "en", "web", 6),
    (4, "two words", "en", "books", 9),
    (5, "spam spam spam spam spam spam spam spam", "en", "web", 39),
    (6, "the a of to and the a of to and some other words here", "en", "books", 53),
    (7, "naïve café über żółć 日本語 emoji 🙂 mixed", "xx", "web", 40),
    (8, "x " * 300, "en", "web", 600),
    (9, "the quick brown fox jumps over the lazy dog and keeps running", "en", "news", 61),
]


@pytest.fixture(scope="module")
def adversarial_dir(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("adversarial_sf")
    pdf = pd.DataFrame(
        _ROWS, columns=["doc_id", "text", "lang", "source", "n_chars"]
    )
    pdf.to_parquet(os.path.join(d, "documents.parquet"), index=False)
    return str(d)


@pytest.mark.parametrize("name", DOC_QUERIES)
def test_adversarial_parity(spark, adversarial_dir, name):
    q = REGISTRY[name]
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"'{adversarial_dir}/documents.parquet'"
    )
    sdf = q.fn(spark, adversarial_dir).toPandas()
    odf = con.execute(q.oracle).fetchdf()
    assert len(sdf) == len(odf), f"{name}: rowcount {len(sdf)} != {len(odf)}"
    scols, srows = _canon_frame(sdf)
    ocols, orows = _canon_frame(odf)
    assert scols == ocols, f"{name}: columns {scols} != {ocols}"
    diffs = [(a, b) for a, b in zip(srows, orows) if a != b][:3]
    assert srows == orows, f"{name}: first diffs {diffs}"
