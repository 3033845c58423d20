"""Oracle parity on an ADVERSARIAL lineitem corpus: heavy VALUE TIES
(identical extendedprice/quantity across rows — the window-rank and
weighted-median tiebreak stressor), a single-row group, a group where
every value is identical (zero variance), boundary quantities exactly
ON the AQI-style bucket edges, duplicate natural keys, and fractional
quantities in the bucket gaps. The driver's TPC-H-ish generator
produces well-spread values, so under-tiebroken ORDER BYs and
degenerate-group moments never get exercised by the main parity
sweep; this fixture forces them for every lineitem-only oracle query
(list derived from the registry)."""

from __future__ import annotations

import os
import re

import pandas as pd
import pytest

import duckdb

from aqi_analysis_apache_airflow_spark.plans import REGISTRY
from aqi_analysis_apache_airflow_spark.schemas import CORPUS_TABLES
from tests.test_oracle_parity import _canon_frame

_OTHERS = [t for t in CORPUS_TABLES if t != "lineitem"]


def _lineitem_only(name: str) -> bool:
    q = REGISTRY[name]
    if q.oracle is None or "lineitem" not in q.oracle:
        return False
    return not any(re.search(rf"\b{t}\b", q.oracle) for t in _OTHERS)


LINEITEM_QUERIES = sorted(n for n in REGISTRY if _lineitem_only(n))

_TS = pd.Timestamp


def _rows():
    rows = []

    def add(ok, ln, qty, price, disc, tax, rf, ls, ship,
            pk=1, sk=1):
        rows.append((ok, pk, sk, ln, qty, price, disc, tax, rf, ls,
                     _TS(ship)))

    # order 1: five lines with IDENTICAL price and quantity (rank ties)
    for ln in range(1, 6):
        add(1, ln, 10.0, 1000.0, 0.05, 0.02, "A", "F", "1995-03-15")
    # order 2: ties in one column, spread in the other
    add(2, 1, 10.0, 500.0, 0.0, 0.0, "A", "F", "1995-03-15")
    add(2, 2, 20.0, 500.0, 0.0, 0.0, "A", "F", "1995-03-15")
    add(2, 3, 10.0, 700.0, 0.0, 0.0, "A", "F", "1995-03-16")
    # returnflag "R": SINGLE row — the degenerate group
    add(3, 1, 7.0, 123.45, 0.1, 0.08, "R", "O", "1996-06-01")
    # returnflag "N": every value identical (zero variance)
    for ok in (4, 5, 6):
        add(ok, 1, 25.0, 2500.0, 0.04, 0.01, "N", "O", "1997-01-01")
    # bucket boundaries: quantities exactly on the x4 AQI-style edges
    # and in the integer gaps (50.5 must land in no bucket)
    for i, qty in enumerate([0.0, 50.0, 50.5, 51.0, 100.0, 101.0,
                             150.0, 151.0, 200.0, 201.0, 300.0, 301.0]):
        add(7, i + 1, qty, 100.0 + i, 0.02, 0.03, "A", "O", "1994-01-01")
    # duplicate natural key (orderkey, linenumber) — a malformed feed
    # the dedup/uniqueness ops must report identically on both engines
    add(8, 1, 1.0, 10.0, 0.0, 0.0, "A", "F", "1993-12-31")
    add(8, 1, 2.0, 20.0, 0.0, 0.0, "A", "F", "1993-12-31")
    # CDC-window edges: rows exactly on f1's date bounds get exercised
    # by whatever window the query uses; spread a few dates wide
    add(9, 1, 3.0, 30.0, 0.06, 0.04, "N", "F", "1992-01-01")
    add(9, 2, 4.0, 40.0, 0.07, 0.05, "N", "F", "1998-12-01")
    return rows


@pytest.fixture(scope="module")
def adversarial_li_dir(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("adversarial_li")
    pdf = pd.DataFrame(
        _rows(),
        columns=[
            "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
            "l_quantity", "l_extendedprice", "l_discount", "l_tax",
            "l_returnflag", "l_linestatus", "l_shipdate",
        ],
    )
    pdf["l_linenumber"] = pdf["l_linenumber"].astype("int32")
    pdf["l_shipdate"] = pdf["l_shipdate"].astype("datetime64[us]")
    pdf.to_parquet(os.path.join(d, "lineitem.parquet"), index=False)
    return str(d)


@pytest.mark.parametrize("name", LINEITEM_QUERIES)
def test_adversarial_lineitem_parity(spark, adversarial_li_dir, name):
    q = REGISTRY[name]
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW lineitem AS SELECT * FROM "
        f"'{adversarial_li_dir}/lineitem.parquet'"
    )
    sdf = q.fn(spark, adversarial_li_dir).toPandas()
    odf = con.execute(q.oracle).fetchdf()
    assert len(sdf) == len(odf), f"{name}: rowcount {len(sdf)} != {len(odf)}"
    scols, srows = _canon_frame(sdf)
    ocols, orows = _canon_frame(odf)
    assert scols == ocols, f"{name}: columns {scols} != {ocols}"
    diffs = [(a, b) for a, b in zip(srows, orows) if a != b][:3]
    assert srows == orows, f"{name}: first diffs {diffs}"
