"""Seeded, EPA-shaped AQI source files for the ETL workloads.

Writes the three yearly ``10_state_aqi_<year>.csv`` files (raw EPA
headers, including the lowercase-c ``county Name`` and the
``Created``/``Last Updated`` audit columns) and a ``uscounties.csv``
master with the reference's 3,144 rows, and keeps every generated AQI
row in memory so the expected warehouse state can be computed from the
generator alone (:class:`NdsModel`), never through the program.

Seeded edge cases (FIXTURES.md §B1/B2):

- leading/trailing whitespace on ~10% of county names in both files;
- ``Windham`` under Vermont (in the master) and Connecticut (not in the
  master, whose Connecticut rows are planning regions);
- counties with measurements but absent from the master (the NOT-IN
  backfill), each with a name no master county uses;
- duplicate measurement natural keys (same day, parameter, site);
- ``Date`` differing from ``date(Created)`` on some rows;
- AQI values on every category boundary plus a negative value, and a
  deliberately wrong ``Category`` on some rows;
- CDC boundary rows: ``Last Updated`` exactly on a window edge, so the
  inclusive [lset, cet] filter loads them on two consecutive nights;
- nightly restatements: rows that repeat an already-loaded key with a
  later ``Last Updated``.

The CSVs hold the backfill rows and every night's rows from the start,
so each night scans identical bytes and only the CDC window moves.
"""

from __future__ import annotations

import bisect
import os
import random
from dataclasses import dataclass, field
from datetime import date, datetime, timedelta

#: (state name, 2-digit FIPS code, postal id) of the states with AQI rows.
AQI_STATES = [
    ("Alabama", "01", "AL"),
    ("California", "06", "CA"),
    ("Connecticut", "09", "CT"),
    ("Florida", "12", "FL"),
    ("Illinois", "17", "IL"),
    ("New York", "36", "NY"),
    ("Ohio", "39", "OH"),
    ("Texas", "48", "TX"),
    ("Vermont", "50", "VT"),
    ("Washington", "53", "WA"),
]
#: Master-only states exercise the state merge's one-sided rows.
MASTER_ONLY_STATES = [("Alaska", "02", "AK"), ("Wyoming", "56", "WY")]

MASTER_ROWS = 3144
CT_REGIONS = [
    "Capitol Planning Region",
    "Greater Bridgeport Planning Region",
    "Lower Connecticut River Valley Planning Region",
    "Naugatuck Valley Planning Region",
    "Northeastern Connecticut Planning Region",
    "Northwest Hills Planning Region",
    "South Central Connecticut Planning Region",
    "Southeastern Connecticut Planning Region",
    "Western Connecticut Planning Region",
]
#: Names that recur across states, as in the real master.
COMMON_NAMES = ["Washington", "Jefferson", "Franklin", "Lincoln", "Jackson", "Madison"]
_SYL = [
    "ab", "al", "an", "ar", "bel", "bra", "car", "cor", "dal", "den", "el",
    "fair", "gar", "glen", "ham", "har", "hol", "kin", "lan", "lin", "mar",
    "mer", "mon", "nor", "oak", "pen", "ral", "ros", "san", "shel", "ton",
    "val", "wes", "york",
]
_SUFFIX = ["", "ton", "ley", "field", "wood", "ford", "burg"]

PARAMS = ["PM2.5", "Ozone", "PM10", "NO2", "CO", "SO2"]
CATEGORIES = [
    "Good",
    "Moderate",
    "Unhealthy for Sensitive Groups",
    "Unhealthy",
    "Very Unhealthy",
    "Hazardous",
]
#: Every bucket boundary of the AQI categorization, plus a negative.
AQI_EDGES = [0, 50, 51, 100, 101, 150, 151, 200, 201, 300, 301, -1]

AQI_HEADER = (
    "State Name,county Name,State Code,County Code,Date,AQI,Category,"
    "Defining Parameter,Defining Site,Number of Sites Reporting,Created,"
    "Last Updated\n"
)
COUNTIES_HEADER = (
    "county,county_ascii,county_full,county_fips,state_id,state_name,lat,lng,"
    "population\n"
)
COUNTIES_FILE = "uscounties.csv"

BACKFILL_START = datetime(2022, 1, 1)
#: The backfill's CET; night n's window is [T0 + (n-1) days, T0 + n days].
T0 = datetime(2024, 1, 10)
DAY = timedelta(days=1)


@dataclass(frozen=True)
class AqiRow:
    state: str
    county: str  # trimmed, as the stage holds it
    created: datetime
    last_updated: datetime
    param: str
    site: str
    nbytes: int  # CSV line length


@dataclass(frozen=True)
class Window:
    lset: datetime
    cet: datetime


def backfill_window() -> Window:
    # process_aqi_files reads an unseeded LSET as the epoch
    return Window(datetime(1970, 1, 1), T0)


def night_window(n: int) -> Window:
    return Window(T0 + (n - 1) * DAY, T0 + n * DAY)


@dataclass
class AqiSource:
    """The generated files and rows. ``root`` holds the AQI CSVs and
    the ``uscounties.csv`` master."""

    root: str
    rows: list[AqiRow]
    master_keys: set[tuple[str, str]]  # (state, trimmed county name)
    master_rows: int
    file_bytes: int  # every CSV byte a full scan reads
    _lu: list[datetime] = field(repr=False, default_factory=list)

    def __post_init__(self) -> None:
        self.rows.sort(key=lambda r: r.last_updated)
        self._lu = [r.last_updated for r in self.rows]

    @property
    def counties_csv(self) -> str:
        return os.path.join(self.root, COUNTIES_FILE)

    def in_window(self, w: Window) -> list[AqiRow]:
        """Rows the inclusive CDC filter ``lset <= Last Updated <= cet`` keeps."""
        lo = bisect.bisect_left(self._lu, w.lset)
        hi = bisect.bisect_right(self._lu, w.cet)
        return self.rows[lo:hi]


class NdsModel:
    """Expected NDS contents, advanced one load at a time from the
    generated rows and the documented semantics of each step:

    - states: every state of the master and of the loaded AQI rows;
    - counties: one row per master FIPS, plus dp1's (name, state) pairs
      whose name no county_nds row has yet (NOT IN by name only), plus
      dp2's Connecticut Windham row once;
    - measurements: one row per (date(Created), parameter, site); a load
      inserts the keys it has not seen and updates the ones it has.
    """

    def __init__(self, src: AqiSource):
        self.src = src
        self.states = {s for s, _ in src.master_keys}
        self.county_keys = set(src.master_keys)
        self.county_names = {c for _, c in src.master_keys}
        self.counties = src.master_rows
        self.keys: set[tuple[date, str, str]] = set()

    @property
    def measurements(self) -> int:
        return len(self.keys)

    def load(self, w: Window) -> tuple[int, int, int]:
        """Apply one DAG pass over window ``w``; return (rows in the
        window, measurement rows inserted, measurement rows updated)."""
        rows = self.src.in_window(w)
        self.states |= {r.state for r in rows}
        dp1 = {(r.state, r.county) for r in rows if r.county not in self.county_names}
        self.county_keys |= dp1
        self.county_names |= {c for _, c in dp1}
        dp2 = {
            (r.state, r.county)
            for r in rows
            if r.county == "Windham" and (r.state, r.county) not in self.src.master_keys
        } - self.county_keys
        self.county_keys |= dp2
        self.counties += len(dp1) + len(dp2)
        keys = {(r.created.date(), r.param, r.site) for r in rows}
        updated = len(keys & self.keys)
        self.keys |= keys
        return len(rows), len(keys) - updated, updated


def _category(aqi: int) -> str:
    for hi, name in zip((50, 100, 150, 200, 300), CATEGORIES):
        if 0 <= aqi <= hi:
            return name
    return CATEGORIES[5] if aqi >= 301 else "Unknown"


def _pad(rng: random.Random, name: str) -> str:
    """Whitespace injection on ~10% of names (the stage trims them)."""
    r = rng.random()
    if r < 0.05:
        return " " + name
    if r < 0.10:
        return name + "  "
    return name


def _new_name(rng: random.Random, taken: set[str]) -> str:
    while True:
        n = (rng.choice(_SYL) + rng.choice(_SYL) + rng.choice(_SUFFIX)).capitalize()
        if n not in taken:
            taken.add(n)
            return n


def _master(rng: random.Random) -> list[tuple[str, str, str, str, str]]:
    """(state, state code, postal id, county name, county code) rows."""
    states = AQI_STATES + MASTER_ONLY_STATES
    generic = [s for s in states if s[0] not in ("Connecticut", "Vermont")]
    per_state = {"Connecticut": list(CT_REGIONS)}
    taken = {"Windham"}
    per_state["Vermont"] = ["Windham"] + [_new_name(rng, taken) for _ in range(13)]
    remaining = MASTER_ROWS - len(CT_REGIONS) - len(per_state["Vermont"])
    for i, (name, _, _) in enumerate(generic):
        quota = remaining // len(generic) + (1 if i < remaining % len(generic) else 0)
        local = set(COMMON_NAMES) | taken
        per_state[name] = COMMON_NAMES + [
            _new_name(rng, local) for _ in range(quota - len(COMMON_NAMES))
        ]
    return [
        (name, code, pid, county, f"{2 * k + 1:03d}")
        for name, code, pid in states
        for k, county in enumerate(per_state[name])
    ]


def _write_master(rng: random.Random, path: str, master) -> None:
    with open(path, "w") as fh:
        fh.write(COUNTIES_HEADER)
        for state, code, pid, county, ccode in master:
            raw = _pad(rng, county)
            fh.write(
                f"{raw},{raw},{raw} County,{code}{ccode},{pid},{state},"
                f"{rng.uniform(25, 49):.4f},{rng.uniform(-124, -67):.4f},"
                f"{rng.randint(1_000, 10_000_000)}\n"
            )


def _sites(rng: random.Random, master) -> list[tuple[str, str, str, str]]:
    """(state, county, county code, site id) of every measuring site:
    ~30 master counties per AQI state, Windham in both Connecticut and
    Vermont, and 12 counties missing from the master. Non-master
    counties get even county codes, so no site id is shared."""
    code_of = {name: code for name, code, _ in AQI_STATES}
    all_names = {m[3] for m in master}
    counties: list[tuple[str, str, str]] = []
    for state, _, _ in AQI_STATES:
        pool = [m for m in master if m[0] == state]
        pick = rng.sample(pool, min(30, len(pool)))
        if state == "Vermont" and not any(m[3] == "Windham" for m in pick):
            pick.append(next(m for m in pool if m[3] == "Windham"))
        counties += [(m[0], m[3], m[4]) for m in pick]
    counties.append(("Connecticut", "Windham", "016"))
    lost_states = [s for s, _, _ in AQI_STATES if s != "Connecticut"]
    taken = set(all_names)
    for i in range(12):
        name = "Lost " + _new_name(rng, taken)
        counties.append((rng.choice(lost_states), name, f"{900 + 2 * i}"))
    return [
        (state, county, ccode, f"{code_of[state]}-{ccode}-{k:04d}")
        for state, county, ccode in counties
        for k in range(2)
    ]


def generate(
    root: str,
    seed: int,
    backfill_rows: int,
    nights: int,
    rows_per_night: int,
    restate_share: float = 0.2,
) -> AqiSource:
    """Write the source files under ``root`` and return their rows."""
    rng = random.Random(seed)
    os.makedirs(root, exist_ok=True)
    master = _master(rng)
    _write_master(rng, os.path.join(root, COUNTIES_FILE), master)
    sites = _sites(rng, master)
    site_by_id = {s[3]: s for s in sites}
    code_of = {name: code for name, code, _ in AQI_STATES}

    lines_by_year: dict[int, list[str]] = {}
    rows: list[AqiRow] = []

    def emit(site, created: datetime, last_updated: datetime, param: str | None = None) -> None:
        state, county, ccode, site_id = site
        param = param or rng.choice(PARAMS)
        aqi = rng.choice(AQI_EDGES) if rng.random() < 0.02 else rng.randint(0, 320)
        cat = _category(aqi) if rng.random() > 0.05 else rng.choice(CATEGORIES)
        day = created.date()
        if rng.random() < 0.05 and day.day > 1:  # Date != date(Created), same file
            day -= DAY
        line = (
            f"{state},{_pad(rng, county)},{code_of[state]},{ccode},{day.isoformat()},"
            f"{aqi},{cat},{param},{site_id},{rng.randint(1, 20)},"
            f"{created.isoformat(' ')},{last_updated.isoformat(' ')}\n"
        )
        lines_by_year.setdefault(day.year, []).append(line)
        rows.append(AqiRow(state, county, created, last_updated, param, site_id, len(line)))

    span_s = int((T0 - BACKFILL_START).total_seconds()) - 86_400
    for i in range(backfill_rows):
        # every site appears in the backfill, so the nights add no
        # counties and county_nds keeps its size
        site = sites[i] if i < len(sites) else rng.choice(sites)
        created = BACKFILL_START + timedelta(seconds=rng.randrange(span_s))
        lag = rng.choice((0, rng.randrange(86_400), rng.randrange(30 * 86_400)))
        updated = created + timedelta(seconds=lag)
        if i % 1000 == 0:  # on the backfill's upper edge: loaded again by night 1
            updated = T0
        emit(site, created, updated if updated <= T0 else created)
        if i % 50 == 0:  # a duplicate natural key, created later that day
            later = created + timedelta(seconds=rng.randrange(1, 3_600))
            if later.date() == created.date():
                emit(site, later, later, rows[-1].param)

    restatable = list(rows)
    n_restate = int(rows_per_night * restate_share)
    for n in range(1, nights + 1):
        w = night_window(n)
        for j in range(rows_per_night - n_restate):
            created = w.lset + timedelta(seconds=rng.randrange(86_400))
            if j == 0:  # on the window's upper edge: loaded again next night
                last_updated = w.cet
            else:
                room = int((w.cet - created).total_seconds())
                last_updated = created + timedelta(seconds=rng.randrange(room + 1))
            emit(rng.choice(sites), created, last_updated)
        for _ in range(n_restate):
            old = rng.choice(restatable)
            when = w.lset + timedelta(seconds=rng.randrange(1, 86_400))
            emit(site_by_id[old.site], old.created, when, old.param)

    file_bytes = os.path.getsize(os.path.join(root, COUNTIES_FILE))
    for year, lines in sorted(lines_by_year.items()):
        path = os.path.join(root, f"10_state_aqi_{year}.csv")
        with open(path, "w") as fh:
            fh.write(AQI_HEADER)
            fh.writelines(lines)
        file_bytes += os.path.getsize(path)
    master_keys = {(m[0], m[3]) for m in master}
    return AqiSource(root, rows, master_keys, len(master), file_bytes)
