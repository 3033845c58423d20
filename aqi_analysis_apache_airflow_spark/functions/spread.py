"""Size-conditional scan spreading (optimization guide §2.4/§2.5/§6).

``spread_if_narrow`` is a round-robin repartition to the session's
shuffle parallelism applied ONLY while the input's natural file splits
cannot feed that parallelism. ``plans.registry.load_spread`` delegates
here (one implementation, one estimate — ADVICE r13 #2/#3).

The bench corpus ships each table as ONE parquet row group, so every
CPU-heavy per-row stage (shingle explodes, token hashing, vector norm
folds) otherwise runs its whole map stage on a single task. The
helpers that learned this lesson first (``exploded_shingles``,
``simhash_fingerprints``, IVF assignment, …) repartitioned
UNCONDITIONALLY — correct locally, but at production scale the scan
already has thousands of natural splits and the repartition becomes a
full corpus shuffle of text/vector payloads for nothing (guide §8:
never move heavy payloads you don't have to). This helper makes the
spread vanish exactly when the splits suffice.

The split estimate (ADVICE r13 #1): a parquet scan task can only be
non-empty when it holds a row-group midpoint, so a file's usable
split count is ``min(ceil(bytes / maxPartitionBytes), row_groups)`` —
a byte-only estimate is blind to a large file written as a few giant
row groups (exactly the layout this corpus ships) and would skip the
spread while the scan's real parallelism is still ~1 task. Row-group
counts are read from the local parquet footer of every file larger
than one split quantum, whatever the parallelism target (the caller
compares the total with it only afterwards); when a footer cannot be
read the byte estimate stands (documented fallback).

The split quantum is read from ``spark.sql.files.maxPartitionBytes``
with the Spark default (128 MiB) as fallback (ADVICE r13 #2) — a conf
override no longer silently breaks the estimate.

Inputs with no file source (in-memory test frames, post-shuffle
relations whose lineage files cannot be sized) keep the unconditional
spread — the conservative arm for BOTH helpers (ADVICE r13 #3), and
the pre-r13 behavior. Inputs on remote storage (any scheme but
``file``) count as already split, as in the pre-r14 ``load_spread``:
they cannot be sized locally, and remote storage is where the spread
would be a full corpus shuffle.

NOT for partition-SEMANTIC repartitions: a site where the partition
layout is part of the query definition (mg1's per-partition
Misra-Gries summaries) must keep its unconditional form.
"""

from __future__ import annotations

import os
import sys
from urllib.parse import urlparse

from pyspark.sql import DataFrame

#: fallback split quantum — Spark's spark.sql.files.maxPartitionBytes
#: default; the live conf value takes precedence (ADVICE r13 #2)
DEFAULT_MAX_SPLIT_BYTES = 128 * 1024 * 1024

_SIZE_SUFFIX = {"b": 1, "k": 1024, "m": 1024**2, "g": 1024**3, "t": 1024**4}


def _parse_bytes(v: str) -> int:
    """Parse a Spark byte-size conf string ('134217728', '128m',
    '1g', '512MB') to bytes."""
    s = str(v).strip().lower()
    if s.endswith("b") and len(s) > 1 and s[-2] in _SIZE_SUFFIX:
        s = s[:-1]  # '128mb' -> '128m'
    if s and s[-1] in _SIZE_SUFFIX and not s[-1].isdigit():
        return int(float(s[:-1]) * _SIZE_SUFFIX[s[-1]])
    return int(s)


def split_quantum(spark) -> int:
    """The session's parquet split size: spark.sql.files.
    maxPartitionBytes, falling back to the Spark default."""
    try:
        return _parse_bytes(
            spark.conf.get(
                "spark.sql.files.maxPartitionBytes",
                str(DEFAULT_MAX_SPLIT_BYTES),
            )
        )
    except Exception:  # noqa: BLE001 — unparseable override → default
        return DEFAULT_MAX_SPLIT_BYTES


def _row_groups(path: str) -> int | None:
    """Row-group count from a local parquet footer, or None when it
    cannot be read (no pyarrow, remote path, corrupt footer)."""
    try:
        import pyarrow.parquet as pq

        return pq.ParquetFile(path).metadata.num_row_groups
    except Exception:  # noqa: BLE001 — any failure → unknown
        return None


def _natural_splits(df: DataFrame, quantum: int) -> int | None:
    """Upper bound on the usable split count of df's file sources,
    unbounded (``sys.maxsize``) on remote storage, or None when it
    cannot be determined (no files / listing or sizing failure). Per
    file: min(ceil(bytes/quantum), row_groups) — a split is only
    non-empty when it holds a row-group midpoint. The footer of every
    local file larger than one quantum is read, whether or not it can
    change the verdict."""
    try:
        files = df.inputFiles()
    except Exception:  # noqa: BLE001 — any listing failure → unknown
        return None
    if not files:
        return None
    if any(urlparse(uri).scheme not in ("", "file") for uri in files):
        return sys.maxsize
    sizes: list[tuple[str, int]] = []
    for uri in files:
        path = urlparse(uri).path or uri
        try:
            sizes.append((path, os.path.getsize(path)))
        except OSError:
            return None
    total = 0
    for path, sz in sizes:
        by_bytes = -(-sz // quantum)
        if by_bytes > 1:
            # the byte estimate can overstate real parallelism on a
            # few-giant-row-group layout — bound it by the footer
            # (ADVICE r13 #1); unreadable footer → byte estimate
            rgs = _row_groups(path)
            if rgs is not None:
                by_bytes = min(by_bytes, rgs)
        total += by_bytes
    return total


def spread_if_narrow(df: DataFrame) -> DataFrame:
    """``df.repartition(shuffle.partitions)`` while the natural splits
    are fewer than the session parallelism; identity otherwise."""
    spark = df.sparkSession
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
    splits = _natural_splits(df, split_quantum(spark))
    if splits is None or splits < n_part:
        return df.repartition(n_part)
    return df
