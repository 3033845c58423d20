"""The ``query_mix`` workload: a fixed mix of registry queries over the
driver corpus at scale factor 0.1, one query per op, each forced
through the noop sink.

The mix stands for the registry the way a small fixed query set stands
for a query log: queries picked by the layer that does their work
(joins and aggregates, the ETL operators used read-only, windows, a
``functions`` module, and the streaming micro-batch path), and by their
measured time at this scale so a pass fits one run (NOTES.md). No query
writes the AQI warehouse or parses CSV, so an ETL change predicts no
change here.

Outputs are checked once per run, before the timed passes, against each
query's DuckDB oracle with the order-insensitive multiset comparison of
``tests/test_oracle_parity.py``; that pass also warms the JVM.
"""

from __future__ import annotations

import os
import random
import sys
import time

import duckdb
import pandas as pd
import pyarrow.parquet as pq

from aqi_analysis_apache_airflow_spark.plans import REGISTRY
from aqi_analysis_apache_airflow_spark.sources.readers import load_table
from tests.test_oracle_parity import _canon_frame

#: The driver corpus at scale factor 0.1 (TESTDATA.md), one parquet
#: file per table, holding the tables the mix reads.
CORPUS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "corpus_sf0.1")

#: query -> (layer that does most of its work, corpus tables it reads)
MIX: dict[str, tuple[str, tuple[str, ...]]] = {
    "q3_shipping_priority": ("plans", ("customer", "orders", "lineitem")),
    "j6_merge_upsert": ("operators", ("orders",)),
    "f4_not_in": ("operators", ("customer", "orders")),
    "f1_cdc_window": ("operators", ("lineitem",)),
    "e1_tumbling_window": ("plans", ("events",)),
    "d5_embedding_near_dup": ("functions.similarity", ("embeddings",)),
    "st2_stream_windowed": ("streaming", ("events",)),
}
TABLES = sorted({t for _, tables in MIX.values() for t in tables})


def _path(table: str) -> str:
    return os.path.join(CORPUS, f"{table}.parquet")


def oracle_mismatch(sdf: pd.DataFrame, odf: pd.DataFrame) -> str | None:
    """None when the two frames hold the same multiset of rows."""
    if len(sdf) != len(odf):
        return f"rowcount {len(sdf)} != {len(odf)}"
    scols, srows = _canon_frame(sdf)
    ocols, orows = _canon_frame(odf)
    if scols != ocols:
        return f"columns {scols} != {ocols}"
    if srows != orows:
        diff = next((a, b) for a, b in zip(srows, orows) if a != b)
        return f"first differing row {diff}"
    return None


class QueryMix:
    """Closed loop, one client: each op runs one mix query to the noop
    sink; a pass runs every query once in a seeded shuffled order."""

    name = "query_mix"

    def __init__(self, rundir: str, seed: int):
        self.rng = random.Random(seed)
        self.names = list(MIX)
        #: rows of every table a scan reads
        self.source_rows = sum(pq.read_metadata(_path(t)).num_rows for t in TABLES)

    def preload(self, spark) -> None:
        """Open every corpus table through ``sources.readers`` and count
        its rows (from the parquet footers)."""
        for t in TABLES:
            load_table(spark, CORPUS, t).count()

    def scan(self, spark) -> None:
        """Forced scan of every corpus table through ``sources.readers``."""
        for t in TABLES:
            load_table(spark, CORPUS, t).write.format("noop").mode("overwrite").save()

    def source_bytes(self, name: str) -> int:
        return sum(os.path.getsize(_path(t)) for t in MIX[name][1])

    @property
    def checked(self) -> list[str]:
        return self.names

    def start(self, spark) -> dict[str, str]:
        """Warm-up and output check in one untimed pass: run every mix
        query once and compare it with its oracle; return query ->
        failure for each query that raised or differs."""
        con = duckdb.connect()
        failures = {}
        try:
            for t in TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{_path(t)}'")
            for name in self.names:
                q = REGISTRY[name]
                t0 = time.perf_counter()
                try:
                    sdf = q.fn(spark, CORPUS).toPandas()
                    print(f"check {name}: {time.perf_counter() - t0:.2f}s", file=sys.stderr)
                    bad = oracle_mismatch(sdf, con.execute(q.oracle).fetchdf())
                except Exception as e:  # noqa: BLE001 - a failing query is a counted failure
                    bad = f"{type(e).__name__}: {str(e).splitlines()[0][:200]}"
                if bad:
                    failures[name] = bad
        finally:
            con.close()
        return failures

    def passes(self):
        """Endless seeded shuffled passes over the mix."""
        while True:
            order = list(self.names)
            self.rng.shuffle(order)
            yield order

    def run_query(self, spark, name: str, span) -> tuple[float, dict | None]:
        """Time one query to the noop sink; return (seconds, its span).
        Persisted state a previous query left behind is dropped first,
        outside the timed region."""
        spark.catalog.clearCache()
        t0 = time.perf_counter()
        with span(f"plans.{name}") as rec:
            REGISTRY[name].fn(spark, CORPUS).write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0, rec
