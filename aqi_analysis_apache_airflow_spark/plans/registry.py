"""Query registry: each entry pairs a Spark plan with its DuckDB oracle.

This drives ``__spark_entry__.queries()`` / ``oracle_sql()`` (the
driver's correctness gate) and ``bench.py``. The operator inventory in
SURVEY.md §2 is the test matrix: one registered query per operator row.

Determinism rules every query follows so the order-insensitive
value-hash comparison is exact, not approximate:

- Sums of doubles go through DECIMAL (exact, order-independent
  addition), then CAST to DOUBLE — identical bits in Spark and DuckDB
  regardless of partitioning/parallelism.
- Per-row double arithmetic (a*b, a/b, sqrt) is IEEE-identical in both
  engines when the inputs are identical, so it needs no rounding.
- Window orders and top-k orders always end in a unique tiebreak key.
- Column names and types are aliased identically on both sides
  (DuckDB count()/length()/year() return BIGINT where Spark returns
  INT — the oracle casts to match).
"""

from __future__ import annotations

import re
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class Query:
    name: str
    fn: QueryFn
    oracle: str | None  # ANSI SQL for DuckDB; None → rows-only check
    doc: str = ""


REGISTRY: dict[str, Query] = {}


def query(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    def deco(fn: QueryFn) -> QueryFn:
        REGISTRY[name] = Query(name=name, fn=fn, oracle=oracle, doc=fn.__doc__ or "")
        return fn

    return deco


def materialized(sql: str) -> str:
    """``sql`` with every CTE marked ``AS MATERIALIZED``. DuckDB inlines
    a CTE at each reference, so an oracle whose rounds each read the
    previous round twice grows its query tree about 3x per round; the
    mmr1 oracle needed ~4 GB at sf0.001 that way, and ~130 MB
    materialized, with the same rows."""
    return re.sub(r"\b(\w+) AS \(", r"\1 AS MATERIALIZED (", sql)


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    from ..sources.readers import load_table

    return load_table(spark, sf_dir, name)


def load_spread(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """``load`` plus a round-robin repartition to the session's shuffle
    parallelism WHEN the table cannot give the scan enough natural
    splits (optimization guide §2.5 input-skew remedy / §6 scan
    parallelism; the exploded_shingles / _md5_ivf_parts precedent made
    size-conditional). The bench corpus ships each table as ONE parquet
    row group, so a per-row-CPU-heavy consumer (probe×corpus cosine
    scorers, per-row fold pipelines) otherwise runs its whole map stage
    on a single task regardless of core count. The repartition only
    fires while the file's natural split count is below the session
    parallelism, so at production scale (files ≫ maxPartitionBytes) it
    vanishes and the scan keeps its natural splits — never an extra
    corpus shuffle at 100 TB.

    Delegates to :func:`...functions.spread.spread_if_narrow` — ONE
    split estimate (conf-read quantum, row-group-bounded) and ONE
    unknown-size arm (spread — conservative) for both helpers
    (ADVICE r13 #1–#3 unification)."""
    from ..functions.spread import spread_if_narrow

    return spread_if_narrow(load(spark, sf_dir, name))


#: DuckDB CTE aligning events.ts (stored as TIMESTAMP_NS in parquet) to
#: the engine's microsecond precision; DuckDB's ns→us cast truncates,
#: matching the loader's ``ts div 1000``.
EVENTS_US_CTE = (
    "ev AS (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, "
    "event_type, value, props FROM events)"
)
