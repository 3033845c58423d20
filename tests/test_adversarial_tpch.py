"""Oracle parity on an ADVERSARIAL multi-table TPC-H corpus — the
join-shaped queries' first hostile fixture. The per-table adversarial
suites (lineitem/orders/events/documents/embeddings) can never
exercise CROSS-TABLE hazards, so every registry query whose oracle
touches only the seven relational tables runs here against a corpus
planted with:

- customers with NO orders and an order with a NULL o_custkey (the
  NOT-IN three-valued-logic trap, left-outer/anti-join edges);
- referential violations in both directions: an order whose customer
  does not exist, a lineitem whose order/supplier does not exist
  (dq1's counts must match, inner joins must drop identically);
- an order with NO lineitems, a part and a supplier never referenced;
- a region with no nations and a nation with no customers/suppliers
  (empty-group edges for the per-nation/per-region rollups);
- duplicate o_orderkey rows and a duplicate (l_orderkey,
  l_linenumber) pair (a malformed feed: every join must FAN OUT
  identically in both engines, and the uniqueness audits must report
  the same counts);
- exact VALUE TIES in o_totalprice / revenue per group (rank & top-k
  tiebreak stressor) and predicate literals exactly ON the queries'
  boundaries: orderdates at '1996-01-01'/'1997-01-01'/'1997-04-01'/
  '1998-01-01', p_size 15 vs 16, p_type 'PROMO' vs 'PROMO POLISHED'
  vs lowercase 'promo' (case-sensitivity parity), '%DARD' suffixes;
- NULL c_acctbal (aggregate null-skipping parity) and negative/zero
  balances around q22-style filters.

Query list is DERIVED FROM THE REGISTRY (oracle references ⊆ the 7
fixture tables), so new TPC-H-shaped queries are covered on arrival.
"""

from __future__ import annotations

import os
import re

import pandas as pd
import pytest

import duckdb

from aqi_analysis_apache_airflow_spark.plans import REGISTRY
from aqi_analysis_apache_airflow_spark.schemas import CORPUS_TABLES
from tests.test_oracle_parity import _canon_frame

_TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem"]
_OTHERS = [t for t in CORPUS_TABLES if t not in _TABLES]


def _tpch_only(name: str) -> bool:
    q = REGISTRY[name]
    if q.oracle is None:
        return False
    if not any(re.search(rf"\b{t}\b", q.oracle) for t in _TABLES):
        return False
    return not any(re.search(rf"\b{t}\b", q.oracle) for t in _OTHERS)


TPCH_QUERIES = sorted(n for n in REGISTRY if _tpch_only(n))

_TS = pd.Timestamp


def _region():
    return pd.DataFrame(
        [(0, "AMERICA"), (1, "ASIA"), (2, "EUROPE"), (3, "NOWHERE")],
        columns=["r_regionkey", "r_name"],
    )


def _nation():
    # nation 5 has no customers and no suppliers; region 3 no nations
    return pd.DataFrame(
        [
            (0, "ALGERIA", 0),
            (1, "CHINA", 1),
            (2, "FRANCE", 2),
            (3, "GERMANY", 2),
            (4, "JAPAN", 1),
            (5, "HERMITLAND", 0),
        ],
        columns=["n_nationkey", "n_name", "n_regionkey"],
    )


def _customer():
    rows = [
        # (key, name, nation, acctbal, segment)
        (1, "Customer#1", 0, 0.0, "BUILDING"),
        (2, "Customer#2", 2, -999.99, "BUILDING"),
        (3, "Customer#3", 1, 4500.5, "AUTOMOBILE"),  # acctbal tie with 4
        (4, "Customer#4", 1, 4500.5, "AUTOMOBILE"),
        (5, "Customer#5", 3, 7000.0, "MACHINERY"),  # NO orders
        (6, "Customer#6", 4, 0.0, "BUILDING"),  # NO orders, zero bal
        (7, "Customer#7", 0, None, "HOUSEHOLD"),  # NULL acctbal
        (8, "Customer#8", 2, 9999.99, "BUILDING"),
        (9, "Customer#1", 2, 1.0, "FURNITURE"),  # duplicate NAME
        (10, "Customer#10", 1, -0.01, "MACHINERY"),  # just below zero
    ]
    return pd.DataFrame(
        rows, columns=["c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"]
    )


def _supplier():
    rows = [
        (1, "Supplier#1", 0, 0.0),
        (2, "Supplier#2", 2, -42.5),
        (3, "Supplier#3", 3, 1000.0),
        (4, "Supplier#4", 1, 1000.0),  # acctbal tie with 3
        (5, "Supplier#1", 2, 555.5),  # duplicate NAME, other nation
        (6, "Supplier#6", 4, 9.99),  # NO lineitems
    ]
    return pd.DataFrame(rows, columns=["s_suppkey", "s_name", "s_nationkey", "s_acctbal"])


def _part():
    rows = [
        # (key, name, brand, type, size, retailprice)
        (1, "ivory promo part", "Brand#13", "PROMO", 1, 100.0),
        (2, "navy shiny part", "Brand#20", "PROMO POLISHED", 15, 200.0),
        (3, "steel plain part", "Brand#23", "STANDARD", 16, 300.0),
        (4, "lowercase part", "Brand#13", "promo", 15, 150.0),  # case trap
        (5, "burnished part", "Brand#9", "ECONOMY BURNISHED", 49, 400.0),
        (6, "burnished part", "Brand#9", "ECONOMY ANODIZED", 50, 400.0),  # dup name
        (7, "free part", "Brand#20", "SMALL BRUSHED", 1, 0.0),  # zero price
        (8, "orphan part", "Brand#23", "LARGE STANDARD", 15, 777.0),  # never sold
    ]
    return pd.DataFrame(
        rows,
        columns=["p_partkey", "p_name", "p_brand", "p_type", "p_size", "p_retailprice"],
    )


def _orders():
    rows = [
        # (key, custkey, status, totalprice, date, priority)
        (100, 1, "O", 1000.0, "1997-01-01", "1-URGENT"),  # on >= boundary
        (101, 1, "F", 1000.0, "1997-03-31", "2-HIGH"),  # inside window, price tie
        (102, 2, "F", 2000.0, "1996-01-01", "5-LOW"),
        (103, 3, "O", 3000.0, "1998-01-01", "3-MEDIUM"),  # on < boundary
        (104, 4, "P", 3000.0, "1997-03-15", "1-URGENT"),  # price tie with 103
        (105, 8, "O", 50.0, "1998-09-02", "4-NOT SPECIFIED"),
        (106, 8, "F", 9999.0, "1995-01-01", "2-HIGH"),
        (107, 7, "F", 123.45, "1992-06-15", "5-LOW"),
        (108, None, "O", 500.0, "1997-02-01", "1-URGENT"),  # NULL custkey
        (109, 8, "O", 0.0, "1997-04-01", "3-MEDIUM"),  # NO lineitems, on boundary
        (110, 99999, "F", 777.0, "1997-06-01", "2-HIGH"),  # customer missing
        (111, 3, "O", 42.0, "1997-07-04", "5-LOW"),  # duplicate orderkey ↓
        (111, 3, "O", 42.0, "1997-07-04", "5-LOW"),
    ]
    df = pd.DataFrame(
        rows,
        columns=[
            "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
            "o_orderdate", "o_orderpriority",
        ],
    )
    # the None custkey must stay INT64-with-null in parquet — plain
    # pandas promotes the column to float64, silently changing the
    # schema both engines read
    df["o_custkey"] = df["o_custkey"].astype("Int64")
    df["o_orderdate"] = pd.to_datetime(df["o_orderdate"]).astype("datetime64[us]")
    return df


def _lineitem():
    rows = []

    def add(ok, ln, pk, sk, qty, price, disc, tax, rf, ls, ship):
        rows.append((ok, pk, sk, ln, qty, price, disc, tax, rf, ls, _TS(ship)))

    # order 100: two lines, IDENTICAL revenue (rank ties), flag R on one
    add(100, 1, 1, 1, 10.0, 1000.0, 0.0, 0.02, "R", "O", "1997-01-05")
    add(100, 2, 2, 2, 10.0, 1000.0, 0.0, 0.02, "N", "O", "1997-01-06")
    # order 101: discount 0.1 and 0.0 on the same part, qty tie
    add(101, 1, 2, 2, 5.0, 500.0, 0.1, 0.0, "A", "F", "1997-04-01")
    add(101, 2, 3, 3, 5.0, 500.0, 0.0, 0.0, "A", "F", "1997-04-02")
    # order 102: returns (flag R), sold by the duplicate-name supplier
    add(102, 1, 5, 5, 1.0, 9999.99, 0.05, 0.08, "R", "F", "1996-02-01")
    # order 103/104: same part+supplier from tied-balance customers
    add(103, 1, 4, 4, 7.5, 750.0, 0.03, 0.01, "N", "O", "1998-01-15")
    add(104, 1, 4, 4, 7.5, 750.0, 0.03, 0.01, "N", "P", "1997-03-15")
    # order 105: zero-quantity and zero-price edge lines
    add(105, 1, 7, 1, 0.0, 0.0, 0.0, 0.0, "N", "O", "1998-09-02")
    # order 106: high-volume line + duplicate (orderkey, linenumber)
    add(106, 1, 5, 2, 50.0, 5000.0, 0.07, 0.04, "A", "F", "1995-01-10")
    add(106, 1, 6, 2, 2.0, 20.0, 0.0, 0.0, "A", "F", "1995-01-10")
    # order 107: lowercase-type part, old date
    add(107, 1, 4, 1, 3.0, 30.0, 0.02, 0.01, "R", "F", "1992-07-01")
    # order 110 (customer missing upstream): still has lines
    add(110, 1, 1, 3, 4.0, 40.0, 0.0, 0.0, "N", "F", "1997-06-15")
    # duplicate orderkey 111's single line (joins fan out ×2)
    add(111, 1, 3, 1, 6.0, 60.0, 0.01, 0.0, "N", "O", "1997-07-10")
    # DANGLING: order 999 does not exist; supplier 999 does not exist
    add(999, 1, 1, 1, 8.0, 80.0, 0.0, 0.0, "N", "O", "1997-08-01")
    add(100, 3, 2, 999, 9.0, 90.0, 0.0, 0.0, "N", "O", "1997-01-07")
    df = pd.DataFrame(
        rows,
        columns=[
            "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
            "l_quantity", "l_extendedprice", "l_discount", "l_tax",
            "l_returnflag", "l_linestatus", "l_shipdate",
        ],
    )
    df["l_linenumber"] = df["l_linenumber"].astype("int32")
    df["l_shipdate"] = df["l_shipdate"].astype("datetime64[us]")
    return df


@pytest.fixture(scope="module")
def adversarial_tpch_dir(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("adversarial_tpch")
    frames = {
        "region": _region(),
        "nation": _nation(),
        "customer": _customer(),
        "supplier": _supplier(),
        "part": _part(),
        "orders": _orders(),
        "lineitem": _lineitem(),
    }
    for t in ("region", "nation"):
        for c in frames[t].columns:
            if frames[t][c].dtype == "int64" and c.endswith("key"):
                frames[t][c] = frames[t][c].astype("int32")
    frames["customer"]["c_nationkey"] = frames["customer"]["c_nationkey"].astype("int32")
    frames["supplier"]["s_nationkey"] = frames["supplier"]["s_nationkey"].astype("int32")
    frames["part"]["p_size"] = frames["part"]["p_size"].astype("int32")
    for t, df in frames.items():
        df.to_parquet(os.path.join(d, f"{t}.parquet"), index=False)
    return str(d)


@pytest.mark.parametrize("name", TPCH_QUERIES)
def test_adversarial_tpch_parity(spark, adversarial_tpch_dir, name):
    q = REGISTRY[name]
    con = duckdb.connect()
    for t in _TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"'{adversarial_tpch_dir}/{t}.parquet'"
        )
    sdf = q.fn(spark, adversarial_tpch_dir).toPandas()
    odf = con.execute(q.oracle).fetchdf()
    assert len(sdf) == len(odf), f"{name}: rowcount {len(sdf)} != {len(odf)}"
    scols, srows = _canon_frame(sdf)
    ocols, orows = _canon_frame(odf)
    assert scols == ocols, f"{name}: columns {scols} != {ocols}"
    diffs = [(a, b) for a, b in zip(srows, orows) if a != b][:3]
    assert srows == orows, f"{name}: first diffs {diffs}"
