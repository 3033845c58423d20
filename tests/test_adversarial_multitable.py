"""Oracle parity for MULTI-TABLE queries on a hostile full corpus.

The per-table adversarial suites (lineitem/orders/events/embeddings/
corpus) auto-derive their query lists from the registry but can only
run queries whose oracle touches a SINGLE table — the ~36 multi-table
queries (every TPC-H join shape, dq1/dq8, gdpr1, gr1, st5, …) had no
hostile-input coverage at all. This fixture closes that gap: the full
sf0.001 corpus plus appended hostile rows aimed at each query's exact
predicate edges and tie surfaces:

- q18's HAVING SUM(qty) > 150: one order summing to EXACTLY 150
  (excluded, strict >) and its twin at 150.5 (included), tied on
  o_totalprice so the ORDER BY falls through to the o_orderkey key;
- q2/q15 argmin/argmax TIES: two suppliers supplying the same part at
  the identical minimum cost, and with identical window revenue equal
  to the maximum — both rows must survive on both engines;
- q19/q14/q3/q15/q21/q20/q22 boundary values sitting exactly ON
  BETWEEN bounds, date-window ends, the +60-day lateness cutoff, the
  qty-40 HAVING edge, and the q22 2001-01-01 cutoff;
- duplicate PRIMARY KEYS (a customer row twice, an orders row twice,
  a (l_orderkey, l_linenumber) collision) — join fan-out and the dq8
  uniqueness audit must report identically;
- orphan FOREIGN KEYS (order -> missing customer, lineitem -> missing
  part/supplier, event -> missing user) for dq1/st5;
- a customer with NO orders (f4/u2/q13/q22/j8 zero rows), NULL
  c_acctbal / c_mktsegment (3-valued filters, pit1's NULL-propagating
  change flag), negative and exactly-zero balances (bf1, q16's NOT IN
  excluder, q22's > 0.00 gate);
- q7's directional nation pairs covered in BOTH directions and q21's
  exists/not-exists arms each with a positive and a negative witness.

The query list is derived from the registry at collection time, so
any future multi-table query is swept automatically.
"""

from __future__ import annotations

import os
import re
import shutil

import pandas as pd
import pytest

import duckdb

from aqi_analysis_apache_airflow_spark.plans import REGISTRY
from aqi_analysis_apache_airflow_spark.schemas import CORPUS_TABLES
from tests.test_oracle_parity import _canon_frame

_BASE = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")


def _multi_table(name: str) -> bool:
    q = REGISTRY[name]
    if q.oracle is None:
        return False
    hits = [t for t in CORPUS_TABLES if re.search(rf"\b{t}\b", q.oracle)]
    return len(hits) > 1


MULTI_QUERIES = sorted(n for n in REGISTRY if _multi_table(n))

_TS = pd.Timestamp


def _hostile_customers():
    # (custkey, name, nationkey, acctbal, mktsegment); nations: 3/8/13/
    # 18/23 = EUROPE, 2 = ASIA (j2), 1/2 = q7's directional pair
    return [
        (1001, "Customer#NoOrders", 3, 9_999_999.0, "BUILDING"),
        (1002, "Customer#TIE", 3, 5000.0, "BUILDING"),
        (1003, "Customer#TIE", 3, 5000.0, "BUILDING"),
        (1004, "Customer#DUP", 8, 100.0, "BUILDING"),
        (1004, "Customer#DUP", 8, 100.0, "BUILDING"),  # duplicate PK
        (1005, "Customer#Zero", 2, 0.0, "MACHINERY"),  # q22 > 0.00 edge
        (1006, "Customer#Neg", 1, -1.0, "MACHINERY"),  # bf1 < 0
        (1007, "Customer#Null", 13, None, None),  # NULL bal + segment
        (1008, "Customer#Y2K1", 18, 8_888_888.0, "AUTOMOBILE"),
        (1164, "Customer#GDPR", 3, 50.0, "BUILDING"),  # 1164 % 97 == 0
    ]


def _hostile_orders():
    # (orderkey, custkey, status, totalprice, orderdate, priority)
    return [
        # q18 twins: identical totalprice, sums 150 vs 150.5
        (2001, 1002, "F", 500000.0, _TS("1997-02-01"), "1-URGENT"),
        (2002, 1003, "F", 500000.0, _TS("1997-02-01"), "1-URGENT"),
        # orphan custkey + excluded q13 priority
        (2003, 999999, "O", 100.0, _TS("1997-02-01"), "5-LOW"),
        # order with NO lineitems, inside q4's window
        (2004, 1002, "F", 200.0, _TS("1997-01-01"), "2-HIGH"),
        # duplicated orderkey, EXACTLY on q3's date cut (excluded) and
        # j7's > 300000 edge (excluded, strict >)
        (2005, 1004, "O", 300000.0, _TS("1997-03-15"), "3-MEDIUM"),
        (2005, 1004, "O", 300000.0, _TS("1997-03-15"), "3-MEDIUM"),
        # one day inside q3's cut; carries the q19 boundary lines
        (2006, 1004, "O", 300.0, _TS("1997-03-14"), "3-MEDIUM"),
        # q22 cutoff: orderdate exactly 2001-01-01 -> cust excluded
        (2007, 1008, "O", 100.0, _TS("2001-01-01"), "1-URGENT"),
        # negative-balance customer's order (bf1 output row)
        (2008, 1006, "O", 400.0, _TS("1997-02-15"), "4-NOT SPECIFIED"),
        # q21 scenarios: counted / both-late / exactly-+60d
        (2009, 1005, "F", 100.0, _TS("1997-01-01"), "1-URGENT"),
        (2010, 1005, "F", 100.0, _TS("1997-01-01"), "1-URGENT"),
        (2011, 1005, "F", 100.0, _TS("1997-01-01"), "1-URGENT"),
        # gdpr cascade target
        (2012, 1164, "O", 100.0, _TS("1997-05-01"), "3-MEDIUM"),
    ]


def _hostile_parts():
    # (partkey, name, brand, type, size, retailprice) — 301 hits q2
    # (%DARD + size<=15 edge), q20 (small%), q9 (%red%), q17
    # (Brand#13), q19 group 1; 302 is PROMO (q14 numerator, q16
    # excluder) + q19 group 2; 303 q19 group 3; 304/305 q16 sizes
    return [
        (301, "small red tie part", "Brand#13", "STANDARD", 15, 100.0),
        (302, "promo boundary part", "Brand#20", "PROMO", 25, 50.0),
        (303, "plain economy part", "Brand#23", "ECONOMY", 35, 75.0),
        (304, "brushed audit part", "Brand#55", "LARGE BRUSHED", 4, 60.0),
        (305, "small part two", "Brand#31", "MEDIUM POLISHED", 9, 80.0),
    ]


def _hostile_suppliers():
    # (suppkey, name, nationkey, acctbal) — 21/22: q2 min-cost tie +
    # grp1 acctbal tie in NATION_3; 23/24: q20's NATION_9 edge pair;
    # 25/26: q7 directional pair (N1 supp / N2 supp) + q21 arms;
    # 27: the exactly-+60d supplier; 28: q16's negative-balance
    # NOT IN excluder
    return [
        (21, "Supplier#TIEA", 3, 100.0),
        (22, "Supplier#TIEB", 3, 100.0),
        (23, "Supplier#N9A", 9, 200.0),
        (24, "Supplier#N9B", 9, 300.0),
        (25, "Supplier#LATE", 1, 400.0),
        (26, "Supplier#ONTIME", 2, 500.0),
        (27, "Supplier#SIXTY", 18, 600.0),
        (28, "Supplier#NEGBAL", 3, -50.0),
    ]


_BIG = 9999999.99  # shared part-301 price: keeps the q2 min a TIE


def _hostile_lineitems():
    rows = []

    def add(ok, pk, sk, ln, qty, price, disc, tax, rf, ls, ship):
        rows.append(
            (ok, pk, sk, ln, qty, price, disc, tax, rf, ls, _TS(ship))
        )

    # order 2001: qty sums to EXACTLY 150 (q18 excludes); suppliers
    # 21/22 at the identical part-301 price (q2 tie) with identical
    # in-window revenue (q15 max tie); 'R' rows inside q10's window
    add(2001, 301, 21, 1, 50.0, _BIG, 0.0, 0.0, "R", "F", "1997-02-01")
    add(2001, 301, 22, 2, 50.0, _BIG, 0.0, 0.0, "R", "F", "1997-02-01")
    add(2001, 301, 21, 3, 50.0, _BIG, 0.05, 0.02, "N", "O", "1997-06-01")
    # order 2002: 150.5 (q18 includes); keeps the q15 revenue tie by
    # mirroring 2001's in-window prices
    add(2002, 301, 21, 1, 50.5, _BIG, 0.0, 0.0, "R", "F", "1997-02-01")
    add(2002, 301, 22, 2, 50.0, _BIG, 0.0, 0.0, "N", "F", "1997-02-01")
    add(2002, 301, 22, 3, 50.0, _BIG, 0.0, 0.0, "N", "O", "1997-06-01")
    # orphan part+supplier on the orphan-customer order (dq1)
    add(2003, 9999, 9999, 1, 1.0, 50.0, 0.0, 0.0, "N", "O", "1997-02-02")
    # order 2004 stays EMPTY (q4's NOT-EXISTS arm)
    # q14 boundary: PROMO line exactly ON the window start (included)
    # and exactly ON the end (excluded); non-PROMO denominator row
    add(2005, 302, 23, 1, 1.0, 500.0, 0.0, 0.0, "N", "O", "1997-09-01")
    add(2005, 302, 23, 2, 1.0, 600.0, 0.1, 0.0, "N", "O", "1997-10-01")
    add(2005, 303, 24, 3, 1.0, 700.0, 0.0, 0.0, "N", "O", "1997-09-15")
    # q19 boundaries on order 2006 (ship > q3 cut, dup-customer cust):
    # Brand#13 qty 11 in / 11.5 out; Brand#20 qty 10 and 20 both in,
    # 9.5 out; Brand#23 qty 30 in / 30.5 out
    add(2006, 301, 21, 1, 11.0, _BIG, 0.0, 0.0, "N", "O", "1997-03-16")
    add(2006, 301, 21, 2, 11.5, _BIG, 0.0, 0.0, "N", "O", "1997-03-16")
    add(2006, 302, 23, 3, 10.0, 2000.0, 0.1, 0.0, "N", "O", "1997-03-16")
    add(2006, 302, 23, 4, 20.0, 2000.0, 0.0, 0.0, "N", "O", "1997-03-16")
    add(2006, 302, 23, 5, 9.5, 2000.0, 0.0, 0.0, "N", "O", "1997-03-16")
    add(2006, 303, 24, 6, 30.0, 3000.0, 0.0, 0.0, "N", "O", "1997-03-16")
    add(2006, 303, 24, 7, 30.5, 3000.0, 0.0, 0.0, "N", "O", "1997-03-16")
    # q20: per-(supp,part) qty sums 40 exactly (S23, excluded) and
    # 40.5 (S24, included), both NATION_9, part name 'small%'
    add(2008, 305, 23, 1, 40.0, 100.0, 0.0, 0.0, "N", "O", "1997-05-01")
    add(2008, 305, 24, 2, 20.0, 100.0, 0.0, 0.0, "N", "O", "1997-05-02")
    add(2008, 305, 24, 3, 20.5, 100.0, 0.0, 0.0, "N", "O", "1997-05-03")
    # q7 reverse direction: NATION_2 supplier, NATION_1 customer
    add(2008, 303, 26, 4, 1.0, 100.0, 0.0, 0.0, "N", "O", "1997-02-16")
    # q21 scenario A: S25 late, S26 on time -> S25 counted
    add(2009, 304, 25, 1, 5.0, 100.0, 0.0, 0.0, "N", "F", "1997-03-15")
    add(2009, 304, 26, 2, 5.0, 100.0, 0.0, 0.0, "N", "F", "1997-01-15")
    # scenario B: BOTH late -> neither counted (NOT EXISTS arm)
    add(2010, 304, 25, 1, 5.0, 100.0, 0.0, 0.0, "N", "F", "1997-03-15")
    add(2010, 304, 26, 2, 5.0, 100.0, 0.0, 0.0, "N", "F", "1997-03-20")
    # scenario C: ship EXACTLY orderdate+60d (1997-03-02, not late,
    # strict >); S28's row also feeds q16's NOT IN excluded count
    add(2011, 304, 27, 1, 5.0, 100.0, 0.0, 0.0, "N", "F", "1997-03-02")
    add(2011, 304, 28, 2, 5.0, 100.0, 0.0, 0.0, "N", "F", "1997-01-10")
    add(2011, 304, 26, 3, 5.0, 100.0, 0.0, 0.0, "N", "F", "1997-01-10")
    # gdpr cascade line + a DUPLICATE (l_orderkey, l_linenumber) key
    add(2012, 303, 24, 1, 5.0, 100.0, 0.0, 0.0, "N", "O", "1997-05-01")
    add(2012, 303, 24, 1, 6.0, 110.0, 0.0, 0.0, "N", "O", "1997-05-02")
    return rows


def _hostile_events():
    # identical (user_id, ts) pair (dq8 uniqueness), an event joining
    # to the DUPLICATED customer (st5 fan-out), an orphan user_id
    return [
        (2001, _TS("1997-02-01 00:00:00"), 1002, "click", 1.0, "{}"),
        (2002, _TS("1997-02-01 00:00:00"), 1002, "click", 1.0, "{}"),
        (2003, _TS("1997-02-01 00:00:01"), 1004, "view", 2.0, "{}"),
        (2004, _TS("1997-02-01 00:00:02"), 999999, "view", 3.0, "{}"),
    ]


@pytest.fixture(scope="module")
def adv_dir(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("adv_multi"))
    appends = {
        "customer": _hostile_customers(),
        "orders": _hostile_orders(),
        "part": _hostile_parts(),
        "supplier": _hostile_suppliers(),
        "lineitem": _hostile_lineitems(),
        "events": _hostile_events(),
    }
    for t in CORPUS_TABLES:
        src = os.path.join(_BASE, f"{t}.parquet")
        dst = os.path.join(d, f"{t}.parquet")
        if t not in appends:
            shutil.copy(src, dst)
            continue
        base = pd.read_parquet(src)
        extra = pd.DataFrame(appends[t], columns=list(base.columns))
        out = pd.concat([base, extra], ignore_index=True)
        # restore exact base dtypes (int32 keys, us timestamps) so the
        # appended parquet is schema-identical to the driver corpus
        for c, dt in base.dtypes.items():
            if str(dt).startswith("datetime"):
                out[c] = out[c].astype("datetime64[us]")
            elif out[c].isna().any() and str(dt) in ("float64", "object"):
                pass  # keep pandas' nullable representation
            else:
                out[c] = out[c].astype(dt)
        out.to_parquet(dst, index=False)
    return d


@pytest.mark.parametrize("name", MULTI_QUERIES)
def test_adversarial_multitable_parity(spark, adv_dir, name):
    q = REGISTRY[name]
    con = duckdb.connect()
    for t in CORPUS_TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{adv_dir}/{t}.parquet'"
        )
    sdf = q.fn(spark, adv_dir).toPandas()
    odf = con.execute(q.oracle).fetchdf()
    assert len(sdf) == len(odf), f"{name}: rowcount {len(sdf)} != {len(odf)}"
    scols, srows = _canon_frame(sdf)
    ocols, orows = _canon_frame(odf)
    assert scols == ocols, f"{name}: columns {scols} != {ocols}"
    diffs = [(a, b) for a, b in zip(srows, orows) if a != b][:3]
    assert srows == orows, f"{name}: first diffs {diffs}"
