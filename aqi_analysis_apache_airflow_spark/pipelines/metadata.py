"""CET/LSET incremental-load control (reference op C1, SURVEY.md §2.9).

The reference keeps one row per stage table in a Postgres ``metadata``
table: ``cet`` (Current Extraction Time, stamped at run start by
``set_cet``, ``dags/etl/source_to_stage.py:9-16``) and ``lset`` (Last
Successful Extraction Time, stamped after a successful load by
``set_lset``, ``:19-26``); ``get_metadata`` reads both (``:37-45``).
Rows with ``lset <= last_updated <= cet`` are extracted (``:73``) —
a hand-rolled batch watermark; the streaming surface replaces it with
``withWatermark``.

Deviation: instead of a table, the driver keeps the stamps in one JSON
file beside the warehouse tables, ``{table_name: {"cet": iso, "lset":
iso}}`` — no Spark job. A write goes to a temp file that is fsynced and
renamed over the old one, so a crash mid-write keeps the old stamps.
"""

from __future__ import annotations

import json
import os
from datetime import datetime, timezone

from .warehouse import Warehouse

METADATA_FILE = "metadata.json"


def _now() -> datetime:
    return datetime.now(timezone.utc).replace(tzinfo=None)


def _load(wh: Warehouse) -> dict[str, dict[str, str]]:
    try:
        with open(os.path.join(wh.root, METADATA_FILE)) as fh:
            return json.load(fh)
    except FileNotFoundError:
        return {}


def _set_field(wh: Warehouse, table_name: str, field: str, value: datetime) -> None:
    stamps = _load(wh)
    stamps.setdefault(table_name, {})[field] = value.isoformat()
    final = os.path.join(wh.root, METADATA_FILE)
    with open(final + ".tmp", "w") as fh:
        json.dump(stamps, fh)
        fh.flush()
        os.fsync(fh.fileno())
    os.replace(final + ".tmp", final)


def set_cet(wh: Warehouse, table_name: str, at: datetime | None = None) -> None:
    """Stamp extraction start (``dags/etl/source_to_stage.py:9-16``)."""
    _set_field(wh, table_name, "cet", at or _now())


def set_lset(wh: Warehouse, table_name: str, at: datetime | None = None) -> None:
    """Stamp extraction success (``dags/etl/source_to_stage.py:19-26``)."""
    _set_field(wh, table_name, "lset", at or _now())


def get_metadata(wh: Warehouse, table_name: str) -> tuple[datetime | None, datetime | None]:
    """Return (cet, lset) (``dags/etl/source_to_stage.py:37-45``)."""
    row = _load(wh).get(table_name, {})
    cet, lset = (datetime.fromisoformat(row[f]) if f in row else None for f in ("cet", "lset"))
    return cet, lset
