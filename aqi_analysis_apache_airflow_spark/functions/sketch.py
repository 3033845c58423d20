"""Misra–Gries heavy-hitters summaries as an Arrow-batched
``mapInPandas`` stage — the mergeable-sketch pattern for custom
aggregations Spark lacks natively (Misra & Gries 1982; merge rule from
Agarwal et al., "Mergeable Summaries", PODS 2012).

Count-min (cm1) and HLL (hll1) cover the built-in-expressible sketch
surface; Misra–Gries is the one that genuinely needs per-partition
imperative state, so it doubles as the engine's template for
Python-side mergeable aggregation: per-partition summaries computed
batch-vectorized over Arrow (never per-row Python), merged by a plain
``groupBy(key).sum()``, with the per-partition undercount surfaced as
a sentinel row so the merged estimate keeps a provable error bound.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame

MG_SCHEMA = "k string, est long"

#: sentinel key for the per-partition undercount row (MG decrement
#: total). NULL, not a magic string: no real key can collide with it.
MG_ERR_KEY = None


def _make_absorb():
    """Factory for the absorb step. The indirection is LOAD-BEARING:
    a plain module-level function would be cloudpickled BY REFERENCE
    (module + qualname) into the ``mapInPandas`` closure, and Spark's
    Python workers cannot import this package when the driver loaded
    ``__spark_entry__.py`` by file path from a foreign cwd — the
    worker dies with ModuleNotFoundError. A factory-produced closure
    has a ``<locals>`` qualname, which cloudpickle always serializes
    by value, so the worker needs only pandas."""

    def mg_absorb(
        counters: pd.Series, vc: pd.Series, capacity: int
    ) -> tuple[pd.Series, int]:
        """Absorb an exact count summary ``vc`` into an MG summary
        ``counters``, re-compressing to ``capacity`` entries. Returns
        the new counters and the undercount ADDED by this absorption.

        Compression is the mergeable-summaries rule: subtract the
        (capacity+1)-th largest count from every counter and drop the
        non-positive — each key's estimate falls by at most that
        offset, which the caller's error total repays. Invariant
        afterwards (with ``err`` the accumulated offsets): for EVERY
        key, counting absent keys as 0, ``true - err <= est <=
        true``."""
        merged = counters.add(vc, fill_value=0).astype("int64")
        if len(merged) <= capacity:
            return merged, 0
        offset = int(merged.nlargest(capacity + 1).iloc[-1])
        merged = merged - offset
        return merged[merged > 0], offset

    return mg_absorb


mg_absorb = _make_absorb()


def mg_partition_summaries(keyed: DataFrame, capacity: int) -> DataFrame:
    """Per-partition Misra–Gries summaries of column ``k`` (string).

    Output rows: (k, est) for each surviving counter, plus ONE
    sentinel row (k=NULL, est=<partition undercount>) per partition.
    Because each partition satisfies ``true_p - err_p <= est_p <=
    true_p`` for every key, a plain groupBy-sum of the summaries plus
    the summed sentinels is itself a valid MG summary of the whole
    corpus (Agarwal et al. 2012, Thm. 1) — only summaries ever
    shuffle, never the corpus.

    The inner loop is batch-vectorized: each Arrow batch collapses to
    ``value_counts`` first (an exact, error-free summary) and
    :func:`mg_absorb` folds it in — Python cost is
    O(distinct-per-batch + capacity) per batch, never per row."""

    def _mg(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        counters = pd.Series(dtype="int64")
        err = 0
        for pdf in batches:
            vc = pdf["k"].value_counts()
            if vc.empty:
                continue
            counters, added = mg_absorb(counters, vc, capacity)
            err += added
        out = pd.DataFrame(
            {"k": counters.index.astype(object), "est": counters.values}
        )
        sentinel = pd.DataFrame({"k": [MG_ERR_KEY], "est": [err]})
        yield pd.concat([out, sentinel], ignore_index=True)

    return keyed.mapInPandas(_mg, MG_SCHEMA)


def pca_partial_gram():
    """Factory for pca1's Arrow stage: per ≤1024-row chunk of
    embedding vectors, the exact int64 partial second-moment matrix
    Σ round(x_i·x_j·1e14) as (i, j, partial) rows — 1-based dims,
    matching the oracle's UNNEST(range(1, len+1)).

    Factory-produced closure (the ``_make_absorb`` pattern): the
    returned function captures nothing from this module, so
    cloudpickle ships it BY VALUE and the worker never needs to
    import this package (the driver loads ``__spark_entry__.py`` by
    path from a foreign cwd). Rounding is half-away-from-zero via
    floor(p+0.5)/ceil(p−0.5) — exact for |p| < 2^52, identical to
    both engines' SQL round() — NOT numpy's half-even ``rint``.
    The chunk cap keeps each partial under int64 even for the
    adversarial 25·1e14-per-term magnitudes (1024·2.5e15 ≈ 2.6e18 <
    2^63)."""

    def gram_chunks(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            vecs = [v for v in pdf["embedding"] if v is not None and len(v)]
            if not vecs:
                continue
            # group by length so ragged corpora still produce exact
            # per-dimension sums (dims beyond a short vector simply
            # don't exist for it, matching the oracle's range-unnest)
            by_len = {}
            for v in vecs:
                by_len.setdefault(len(v), []).append(v)
            for d, group in by_len.items():
                x = np.asarray(group, dtype=np.float64)
                for s in range(0, x.shape[0], 1024):
                    c = x[s : s + 1024]
                    p = (c[:, :, None] * c[:, None, :]) * 1e14
                    r = np.where(
                        p >= 0, np.floor(p + 0.5), np.ceil(p - 0.5)
                    ).astype(np.int64)
                    part = r.sum(axis=0, dtype=np.int64)
                    i, j = np.meshgrid(
                        np.arange(1, d + 1), np.arange(1, d + 1), indexing="ij"
                    )
                    yield pd.DataFrame(
                        {
                            "i": i.ravel(),
                            "j": j.ravel(),
                            "partial": part.ravel(),
                        }
                    )

    return gram_chunks
