"""Oracle parity on an ADVERSARIAL orders corpus: all-equal
totalprice (every interval-lookup band edge and quantile boundary
collapses), heavy price ties across customers (rank/top-k tiebreaks),
a customer with one order, duplicate order keys (malformed feed), and
identical timestamps. Derived from the registry: every orders-only
oracle query runs here, so new ones are covered automatically."""

from __future__ import annotations

import os
import re

import duckdb
import pandas as pd
import pytest

from aqi_analysis_apache_airflow_spark.plans import REGISTRY
from aqi_analysis_apache_airflow_spark.schemas import CORPUS_TABLES
from tests.test_oracle_parity import _canon_frame

_OTHERS = [t for t in CORPUS_TABLES if t != "orders"]


def _orders_only(name: str) -> bool:
    q = REGISTRY[name]
    if q.oracle is None or "orders" not in q.oracle:
        return False
    return not any(re.search(rf"\b{t}\b", q.oracle) for t in _OTHERS)


ORDERS_QUERIES = sorted(n for n in REGISTRY if _orders_only(n))

_TS = pd.Timestamp


def _rows():
    rows = []

    def add(ok, ck, st, price, date, pri):
        rows.append((ok, ck, st, price, _TS(date), pri))

    # customer 1: five orders, IDENTICAL price and date (pure ties)
    for ok in range(1, 6):
        add(ok, 1, "F", 1000.0, "1995-05-05", "3-MEDIUM")
    # customer 2: price ties with customer 1 (cross-group rank ties)
    add(6, 2, "O", 1000.0, "1995-05-05", "1-URGENT")
    add(7, 2, "O", 2000.0, "1996-06-06", "1-URGENT")
    # customer 3: single order — degenerate group
    add(8, 3, "P", 345.67, "1997-07-07", "5-LOW")
    # duplicate order key (malformed feed): both engines must report
    # the same MERGE/dedup/checksum outcome
    add(9, 4, "F", 50.0, "1992-02-02", "2-HIGH")
    add(9, 4, "F", 60.0, "1992-02-03", "2-HIGH")
    # wide price spread so band edges are distinct doubles, plus one
    # order exactly at the min (band 0's lower edge)
    add(10, 5, "O", 1.25, "1993-03-03", "4-NOT SPECIFIED")
    add(11, 5, "O", 99999.99, "1998-08-08", "4-NOT SPECIFIED")
    return rows


@pytest.fixture(scope="module")
def adversarial_or_dir(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("adversarial_or")
    pdf = pd.DataFrame(
        _rows(),
        columns=[
            "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
            "o_orderdate", "o_orderpriority",
        ],
    )
    pdf["o_orderdate"] = pdf["o_orderdate"].astype("datetime64[us]")
    pdf.to_parquet(os.path.join(d, "orders.parquet"), index=False)
    return str(d)


@pytest.mark.parametrize("name", ORDERS_QUERIES)
def test_adversarial_orders_parity(spark, adversarial_or_dir, name):
    q = REGISTRY[name]
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW orders AS SELECT * FROM "
        f"'{adversarial_or_dir}/orders.parquet'"
    )
    sdf = q.fn(spark, adversarial_or_dir).toPandas()
    odf = con.execute(q.oracle).fetchdf()
    assert len(sdf) == len(odf), f"{name}: rowcount {len(sdf)} != {len(odf)}"
    scols, srows = _canon_frame(sdf)
    ocols, orows = _canon_frame(odf)
    assert scols == ocols, f"{name}: columns {scols} != {ocols}"
    diffs = [(a, b) for a, b in zip(srows, orows) if a != b][:3]
    assert srows == orows, f"{name}: first diffs {diffs}"
