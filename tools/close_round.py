#!/usr/bin/env python
"""Mechanical round close (verdict r12 task 1): run the gate, write
the round artifacts, commit them, and FAIL LOUDLY if the tree is not
clean afterward — the r10/r11/r12 rounds each shipped with the round's
own BENCH_r{N}.json / CORRECTNESS_r{N}.json untracked at judging time
because the gate artifacts landed after the last hand-made commit.

Steps (each skippable for staged use):
  1. --parity   full-registry Spark-vs-DuckDB comparison at the
                driver's t2 scale (sf0.01), written in the driver's
                CORRECTNESS format to CORRECTNESS_r{N}.json. Aborts
                the close on ANY mismatch.
  2. --bench    full `python bench.py` at sf0.1 (block mode, cool-box
                gated); the stdout JSON line becomes BENCH_r{N}.json.
                Aborts if the run is stamped non-canonical (a block
                stayed hot through its re-spawns) unless --allow-hot.
  3. commit     `git add` the round artifacts + BENCH_DETAIL.json and
                commit; then assert `git status --porcelain` is empty.

Usage: python tools/close_round.py N [--parity] [--bench]
       [--allow-hot] [--no-commit]
(with neither --parity nor --bench, both run)
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

# google.protobuf for st7 (transformWithState), provided before the
# first SparkSession builds the JVM so the Python workers inherit it.
from aqi_analysis_apache_airflow_spark.vendored import provide_protobuf  # noqa: E402

provide_protobuf()

T2_SF_DIR = "/root/testdata/sf0.01"
BENCH_SF_DIR = "/root/testdata/sf0.1"


def run_parity(n_round: int) -> None:
    import duckdb

    from aqi_analysis_apache_airflow_spark.plans import REGISTRY
    from aqi_analysis_apache_airflow_spark.plans import (  # noqa: F401
        extended as _extended,
        queries as _queries,
    )
    from aqi_analysis_apache_airflow_spark.schemas import CORPUS_TABLES
    from aqi_analysis_apache_airflow_spark.session import get_spark
    from tests.test_oracle_parity import _canon_frame

    spark = get_spark(app_name=f"close-round-{n_round}-parity")
    con = duckdb.connect()
    for t in CORPUS_TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{T2_SF_DIR}/{t}.parquet'"
        )
    out: dict[str, dict] = {}
    failures = []
    for name in sorted(REGISTRY):
        q = REGISTRY[name]
        row = {
            "rows_match": False,
            "schema_match": False,
            "hash_match": False,
            "spark_rows": None,
            "oracle_rows": None,
            "err": None,
        }
        try:
            sdf = q.fn(spark, T2_SF_DIR).toPandas()
            row["spark_rows"] = len(sdf)
            if q.oracle is None:
                row["oracle_rows"] = None
                row["rows_match"] = row["schema_match"] = row[
                    "hash_match"
                ] = None
                row["err"] = "rows-only (no oracle)"
            else:
                odf = con.execute(q.oracle).fetchdf()
                row["oracle_rows"] = len(odf)
                row["rows_match"] = len(sdf) == len(odf)
                scols, srows = _canon_frame(sdf)
                ocols, orows = _canon_frame(odf)
                row["schema_match"] = scols == ocols
                row["hash_match"] = srows == orows
        except Exception as e:  # noqa: BLE001 — recorded, not hidden
            row["err"] = f"{type(e).__name__}: {e}"[:500]
        out[name] = row
        ok = row["hash_match"] in (True, None) and row["err"] in (
            None,
            "rows-only (no oracle)",
        )
        if not ok or row["rows_match"] is False or row["schema_match"] is False:
            failures.append(name)
        print(f"{name}: {'ok' if ok else 'FAIL'}", flush=True)
    spark.stop()
    con.close()
    path = os.path.join(_REPO, f"CORRECTNESS_r{n_round:02d}.json")
    with open(path, "w") as fh:
        json.dump(out, fh, indent=1)
    print(f"wrote {path} ({len(out)} queries)")
    if failures:
        raise SystemExit(f"parity FAILURES: {failures}")


def run_bench(n_round: int, allow_hot: bool) -> None:
    env = dict(os.environ, SPARK_GRAFT_SF_DIR=BENCH_SF_DIR)
    proc = subprocess.run(
        [sys.executable, os.path.join(_REPO, "bench.py")],
        env=env,
        capture_output=True,
        text=True,
    )
    sys.stdout.write(proc.stdout)
    sys.stderr.write(proc.stderr[-2000:])
    if proc.returncode != 0:
        raise SystemExit(f"bench.py failed rc={proc.returncode}")
    line = [ln for ln in proc.stdout.splitlines() if ln.startswith("{")][-1]
    payload = json.loads(line)
    if payload.get("hot_blocks") and not allow_hot:
        raise SystemExit(
            f"bench run is NON-CANONICAL (hot_blocks="
            f"{payload['hot_blocks']}): rerun on an idle box or pass "
            "--allow-hot to record it anyway"
        )
    path = os.path.join(_REPO, f"BENCH_r{n_round:02d}.json")
    with open(path, "w") as fh:
        json.dump(payload, fh, indent=1)
    print(f"wrote {path}")


def commit(n_round: int) -> None:
    arts = [
        f"BENCH_r{n_round:02d}.json",
        f"CORRECTNESS_r{n_round:02d}.json",
        "BENCH_DETAIL.json",
    ]
    present = [a for a in arts if os.path.isfile(os.path.join(_REPO, a))]
    subprocess.run(["git", "-C", _REPO, "add", "-A"], check=True)
    subprocess.run(
        [
            "git",
            "-C",
            _REPO,
            "commit",
            "-m",
            f"Round-{n_round} gate artifacts at close: "
            + ", ".join(present)
            + " (tools/close_round.py — the mechanical fix for three "
            "rounds of untracked gate artifacts)",
        ],
        check=True,
    )
    dirty = subprocess.run(
        ["git", "-C", _REPO, "status", "--porcelain"],
        capture_output=True,
        text=True,
        check=True,
    ).stdout.strip()
    if dirty:
        raise SystemExit(
            f"tree NOT clean after the close commit:\n{dirty}"
        )
    print("round closed: artifacts committed, tree clean")


def main() -> None:
    args = sys.argv[1:]
    if not args or not args[0].isdigit():
        raise SystemExit(__doc__)
    n_round = int(args[0])
    flags = set(args[1:])
    unknown = flags - {"--parity", "--bench", "--allow-hot", "--no-commit"}
    if unknown:
        raise SystemExit(f"unknown flags {sorted(unknown)}\n{__doc__}")
    do_parity = "--parity" in flags or not ({"--parity", "--bench"} & flags)
    do_bench = "--bench" in flags or not ({"--parity", "--bench"} & flags)
    if do_parity:
        run_parity(n_round)
    if do_bench:
        run_bench(n_round, "--allow-hot" in flags)
    if "--no-commit" not in flags:
        commit(n_round)


if __name__ == "__main__":
    main()
