"""Oracle parity on an ADVERSARIAL events corpus: timestamp TIE
STORMS (several events, one user, one microsecond — the classic
window-function nondeterminism trigger), events exactly ON window and
session-gap boundaries, arrival order inverted vs event time, NULL /
empty / malformed JSON props, empty and unicode event types, zero and
negative values. The driver corpus is well-spread synthetic traffic,
so boundary-inclusive vs -exclusive bugs and under-tiebroken ORDER BYs
never get exercised by the main parity sweep; this fixture forces
them against every events-only oracle query (the list is derived from
the registry, so new events queries are covered automatically)."""

from __future__ import annotations

import os
import re

import duckdb
import pandas as pd
import pytest

from aqi_analysis_apache_airflow_spark.plans import REGISTRY
from aqi_analysis_apache_airflow_spark.schemas import CORPUS_TABLES
from tests.test_oracle_parity import _canon_frame

_OTHER_TABLES = [t for t in CORPUS_TABLES if t != "events"]


def _events_only(name: str) -> bool:
    q = REGISTRY[name]
    if q.oracle is None or "events" not in q.oracle:
        return False
    return not any(
        re.search(rf"\b{t}\b", q.oracle) for t in _OTHER_TABLES
    )


EVENT_QUERIES = sorted(n for n in REGISTRY if _events_only(n))

_TS = pd.Timestamp  # microsecond-precision naive timestamps


def _rows():
    rows = []
    eid = 0

    def add(ts, user, etype, value, props):
        nonlocal eid
        eid += 1
        rows.append((eid, ts, user, etype, value, props))

    # user 1: tie storm — five events in the SAME microsecond
    t0 = _TS("2024-01-01 10:00:00")
    for etype, v in [("click", 1.0), ("view", 2.0), ("click", 3.0),
                     ("buy", 4.0), ("click", 5.0)]:
        add(t0, 1, etype, v, '{"k": 1}')
    # user 2: exact window boundaries (hour, 15-min slide marks) and
    # the last representable microsecond of an hour
    add(_TS("2024-01-01 10:00:00.000000"), 2, "view", 0.0, "{}")
    add(_TS("2024-01-01 10:15:00"), 2, "click", -5.5, None)
    # large but within the ~15-digit window where round(slope, 6) is
    # still well-defined in a double (1e9 here made g13's slope ~7e10,
    # whose 6-decimal rounding is beyond double precision and thus
    # legitimately engine-ambiguous)
    add(_TS("2024-01-01 10:30:00"), 2, "view", 123456.75, "")
    add(_TS("2024-01-01 10:59:59.999999"), 2, "buy", 2.5, "not json")
    add(_TS("2024-01-01 11:00:00"), 2, "view", 3.5, '{"a": {"b": 2}}')
    # user 3: single event, unicode type, and a value big enough that
    # v*v overflows an unwidened DECIMAL(36,12) product — the
    # singleton group keeps its z-score/slope NULL-guarded, so only
    # the decimal-width handling is exercised, not giant-double
    # rounding
    add(_TS("2024-01-02 00:00:00"), 3, "日本語", 2e7, '{"字": "値"}')
    # user 4: session gap EXACTLY 30 minutes vs 30 minutes + 1us
    add(_TS("2024-01-03 08:00:00"), 4, "view", 1.0, None)
    add(_TS("2024-01-03 08:30:00"), 4, "view", 1.0, None)
    add(_TS("2024-01-03 09:00:00.000001"), 4, "view", 1.0, None)
    # user 5: funnel order with a tie (view and click in one instant)
    t5 = _TS("2024-01-04 12:00:00")
    add(t5, 5, "view", 1.0, None)
    add(t5, 5, "click", 1.0, None)
    add(t5 + pd.Timedelta(seconds=1), 5, "buy", 9.9, None)
    # user 6: arrival order (event_id) inverted vs event time
    add(_TS("2024-01-05 23:00:00"), 6, "click", 2.0, None)
    add(_TS("2024-01-05 22:00:00"), 6, "view", 1.0, None)
    add(_TS("2024-01-05 21:00:00"), 6, "view", 0.5, None)
    # user 7: empty event type, zero values
    add(_TS("2024-01-06 06:06:06"), 7, "", 0.0, '{"k": 0}')
    add(_TS("2024-01-06 06:06:06"), 7, "", 0.0, "[1, 2]")
    return rows


@pytest.fixture(scope="module")
def adversarial_ev_dir(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("adversarial_ev")
    pdf = pd.DataFrame(
        _rows(),
        columns=["event_id", "ts", "user_id", "event_type", "value", "props"],
    )
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")
    pdf.to_parquet(os.path.join(d, "events.parquet"), index=False)
    return str(d)


@pytest.mark.parametrize("name", EVENT_QUERIES)
def test_adversarial_event_parity(spark, adversarial_ev_dir, name):
    q = REGISTRY[name]
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        f"'{adversarial_ev_dir}/events.parquet'"
    )
    sdf = q.fn(spark, adversarial_ev_dir).toPandas()
    odf = con.execute(q.oracle).fetchdf()
    assert len(sdf) == len(odf), f"{name}: rowcount {len(sdf)} != {len(odf)}"
    scols, srows = _canon_frame(sdf)
    ocols, orows = _canon_frame(odf)
    assert scols == ocols, f"{name}: columns {scols} != {ocols}"
    diffs = [(a, b) for a, b in zip(srows, orows) if a != b][:3]
    assert srows == orows, f"{name}: first diffs {diffs}"
