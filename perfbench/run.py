#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload etl_nightly --seed 1 --seconds 5 --trace 0

Run from the repository root. Generates the workload's inputs from the
seed under ``.perfbench_run/`` (removed on exit), starts one Spark
session as ``local[<cores>]``, sets up, warms up, runs ops in a closed
loop with one client until ``--seconds`` of op time have passed (and at
least MIN_NIGHTS nights or one pass of the query mix), checks every
output, and prints one JSON line: end-to-end metrics with
``--trace 0``, per-layer metrics with ``--trace 1``.
perfbench/NOTES.md defines every metric.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPS = 3
#: Forced scans of the workload's inputs behind ``sources.scan_s``.
SCAN_REPS = 3
#: Fewest nights an etl_nightly run times; query_mix times whole passes.
MIN_NIGHTS = 1


def pin_env(rundir: str) -> int:
    """Pin the environment before any JVM starts: one task thread per
    available core, every scratch directory under the run directory,
    UTC everywhere, a bounded driver heap. Returns the core count."""
    cores = len(os.sched_getaffinity(0))
    tmp = os.path.join(rundir, "tmp")
    os.makedirs(tmp)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cores),
        SPARK_LOCAL_DIRS=os.path.join(rundir, "local"),
        SPARK_DRIVER_MEM="2g",
        SPARK_GRAFT_DRIVER_JAVA_OPTS=f"-Djava.io.tmpdir={tmp} -Duser.timezone=UTC",
        PYSPARK_PYTHON=sys.executable,
        TMPDIR=tmp,
        TZ="UTC",
    )
    time.tzset()
    return cores


def spark_conf(rundir: str, trace: bool) -> dict[str, str]:
    conf = {
        "spark.sql.warehouse.dir": os.path.join(rundir, "spark-warehouse"),
        "spark.sql.streaming.forceDeleteTempCheckpointLocation": "true",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        log_dir = os.path.join(rundir, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + log_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
            }
        )
    return conf


def peak_rss_mb(spark) -> float:
    """Peak resident memory (VmHWM) of the driver JVM plus this process."""
    import resource

    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        jvm_kb = next(int(line.split()[1]) for line in fh if line.startswith("VmHWM:"))
    return (jvm_kb + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss) / 1024


def program_cpu_s(jvm_pid: int) -> float:
    """CPU seconds (user + system) used so far by this process, the
    driver JVM and every live descendant of the JVM (the Python
    workers), plus the children each of those reaped. Unlike wall time,
    it leaves out the time the machine's other tenants take."""
    procs = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as fh:
                    f = fh.read().rsplit(")", 1)[1].split()
            except OSError:  # exited meanwhile
                continue
            procs[int(d)] = (int(f[1]), sum(int(x) for x in f[11:15]))  # ppid, [uc][st]ime
    tree, grew = {jvm_pid}, True
    while grew:
        kids = {p for p, (ppid, _) in procs.items() if ppid in tree} - tree
        tree |= kids
        grew = bool(kids)
    own = os.times()
    ticks = sum(procs[p][1] for p in tree if p in procs)
    return own.user + own.system + ticks / os.sysconf("SC_CLK_TCK")


def stop_spark(spark) -> None:
    """Stop the session, then the driver JVM, and wait until it exits
    (the JVM's Python workers exit with it)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits at end of its stdin
        proc.wait(timeout=60)


def tail(xs: list[float]) -> tuple[float, float]:
    """(percentile, value) of the highest percentile with at least ten
    samples above it; (0, 0) when there are too few samples."""
    if len(xs) < 11:
        return 0.0, 0.0
    s = sorted(xs)
    return 100 * (len(s) - 10) / len(s), s[len(s) - 11]


_T0 = time.perf_counter()


def log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - _T0:7.1f}s] {msg}", file=sys.stderr, flush=True)


def set_up(wl, conf: dict[str, str]):
    """SETUP_REPS set-ups, each a session start through ``get_spark``
    plus the workload's preload; the first also launches the JVM.
    Returns (session, set-up times, session start times)."""
    from aqi_analysis_apache_airflow_spark.session import get_spark

    spark, setups, starts = None, [], []
    for _ in range(SETUP_REPS):
        if spark is not None:
            spark.stop()
        t0 = time.perf_counter()
        spark = get_spark("perfbench", extra_conf=conf)
        starts.append(time.perf_counter() - t0)
        wl.preload(spark)
        setups.append(time.perf_counter() - t0)
    return spark, setups, starts


def op_loop(seconds: float, tracer, n_units, least: int, one_pass) -> list[dict]:
    """Closed loop: run passes until ``seconds`` of op time are spent and
    ``n_units(ops)`` reaches ``least``. With a tracer, passes alternate
    untraced/traced (at least one of each), so the two halves see the
    same warm-up drift."""
    from spans import install_layers, nospan

    ops: list[dict] = []
    k = 0

    def enough() -> bool:
        if sum(o["s"] for o in ops) < seconds:
            return False
        if tracer is None:
            return n_units(ops) >= least
        traced = [o for o in ops if o["traced"]]
        return min(n_units(traced), n_units([o for o in ops if not o["traced"]])) >= 1

    while not enough():
        traced = tracer is not None and k % 2 == 1
        if traced:
            install_layers(tracer)
        try:
            ops += one_pass(tracer.span if traced else nospan, traced)
        finally:
            if traced:
                tracer.uninstall()
        k += 1
    return ops


def etl_ops(wl, spark, seconds: float, tracer, cpu) -> list[dict]:
    def one(span, traced: bool) -> list[dict]:
        rows, load, check = wl.next_op(spark)
        rec = None
        c0 = cpu()
        t0 = time.perf_counter()
        try:
            with span("op.night") as rec:
                load()
            errs = None
        except Exception:  # noqa: BLE001 - a failed op is counted, not fatal
            errs = [traceback.format_exc()]
        dt = time.perf_counter() - t0
        dc = cpu() - c0
        errs = errs or check()
        return [{"s": dt, "cpu": dc, "rows": rows, "errors": errs, "traced": traced,
                 "facts": dict(wl.facts), "span": rec}]

    return op_loop(seconds, tracer, len, MIN_NIGHTS, one)


def mix_ops(wl, spark, seconds: float, tracer, cpu) -> list[dict]:
    passes = wl.passes()

    def one(span, traced: bool) -> list[dict]:
        out = []
        for name in next(passes):
            c0 = cpu()
            try:
                dt, rec, errs = *wl.run_query(spark, name, span), []
            except Exception:  # noqa: BLE001 - a failed query is counted, not fatal
                dt, rec, errs = 0.0, None, [traceback.format_exc()]
            out.append({"s": dt, "cpu": cpu() - c0, "errors": errs, "traced": traced,
                        "name": name, "span": rec})
        return out

    # whole passes only, so every query runs equally often
    return op_loop(seconds, tracer, lambda ops: len(ops) // len(wl.names), 1, one)


def op_stats(ops: list[dict]) -> dict[str, float]:
    """Wall and CPU time of the ops: medians per op and ops per second."""
    secs = [o["s"] for o in ops]
    cpus = [o["cpu"] for o in ops]
    return {
        "op_p50_s": statistics.median(secs),
        "ops_per_s": len(secs) / sum(secs),
        "op_cpu_s": statistics.median(cpus),
        "ops_per_cpu_s": len(cpus) / sum(cpus),
    }


def end_to_end(ops: list[dict], setups: list[float]) -> dict[str, float]:
    return {"setup_s": statistics.median(setups), "ops_per_cpu_s": op_stats(ops)["ops_per_cpu_s"]}


def scan_s(wl, spark) -> float:
    """Median of SCAN_REPS standalone forced scans of the inputs."""
    times = []
    for _ in range(SCAN_REPS):
        t0 = time.perf_counter()
        wl.scan(spark)
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def per_layer(tracer, wl, ops, cores: int, extra: dict[str, float]) -> dict[str, float]:
    """Per-layer metrics from the traced ops, per op (per query on
    query_mix); 0 where the workload never calls the layer. The ETL-only
    ``e2e.rows_per_s`` and ``e2e.stored_bytes_per_row`` come from the
    untraced ops and the warehouse after the last op."""
    from mix import MIX

    kids = tracer.children()
    traced = [o for o in ops if o["traced"]]
    untraced = [o["s"] for o in ops if not o["traced"]]
    roots = [o["span"] for o in traced]
    n = len(roots)

    def subtree(s):
        yield s
        for c in kids.get(s["id"], []):
            yield from subtree(c)

    by: dict[str, list[dict]] = {}
    for r in roots:
        for s in subtree(r):
            by.setdefault(s["name"], []).append(s)

    def dur(name: str) -> float:
        return sum(s["t1"] - s["t0"] for s in by.get(name, [])) / n

    def calls(name: str) -> float:
        return len(by.get(name, [])) / n

    def incl(key: str, spans) -> float:
        return sum(tracer.inclusive(s, key, kids) for s in spans)

    def facts(key: str) -> float:
        return sum(o.get("facts", {}).get(key, 0) for o in traced) / n

    meta = [s for name, ss in by.items() if name.startswith("metadata.") for s in ss]
    overwrites = by.get("warehouse.overwrite", [])
    written = sum(s.get("bytes", 0) for s in overwrites)
    op_wall = sum(o["s"] for o in traced)
    if "window_bytes" in traced[0].get("facts", {}):
        source_bytes = sum(wl.src.file_bytes + o["facts"]["target_bytes_before"] for o in traced)
        window_bytes = n * facts("window_bytes")
    else:
        source_bytes = sum(wl.source_bytes(o["name"]) for o in traced)
        window_bytes = 0
    m = {
        "metadata.calls": len(meta) / n,
        "metadata.s": sum(s["t1"] - s["t0"] for s in meta) / n,
        "metadata.jobs": incl("jobs", meta) / n,
        "source_to_stage.aqi_s": dur("source_to_stage.process_aqi_files"),
        "source_to_stage.counties_s": dur("source_to_stage.process_counties_file"),
        "source_to_stage.stage_rows": facts("window_rows"),
        "stage_to_nds.states_s": dur("stage_to_nds.upsert_states"),
        "stage_to_nds.counties_s": dur("stage_to_nds.upsert_counties")
        - dur("stage_to_nds.backfill_counties_from_measurements")
        - dur("stage_to_nds.patch_windham"),
        "stage_to_nds.backfill_s": dur("stage_to_nds.backfill_counties_from_measurements"),
        "stage_to_nds.windham_s": dur("stage_to_nds.patch_windham"),
        "stage_to_nds.measurements_s": dur("stage_to_nds.upsert_measurements"),
        "stage_to_nds.rows_inserted": facts("rows_inserted"),
        "stage_to_nds.rows_updated": facts("rows_updated"),
        "warehouse.overwrite_calls": calls("warehouse.overwrite"),
        "warehouse.overwrite_s": dur("warehouse.overwrite"),
        "warehouse.bytes_written": written / n,
        "warehouse.write_amp": written / window_bytes if window_bytes else 0.0,
    }
    for f in ("merge_upsert", "keep_first", "not_in", "anti_join", "cdc_window"):
        m[f"operators.{f}.calls"] = calls(f"operators.{f}")
        m[f"operators.{f}.plan_s"] = dur(f"operators.{f}")
    input_bytes = incl("input_bytes", roots)
    run_s = incl("executor_run_ms", roots) / 1000
    m.update(
        {
            "spark.jobs": incl("jobs", roots) / n,
            "spark.stages": incl("stages", roots) / n,
            "spark.tasks": incl("tasks", roots) / n,
            "spark.failed_tasks": incl("failed_tasks", roots) / n,
            "spark.input_bytes": input_bytes / n,
            "spark.read_amp": input_bytes / source_bytes,
            "spark.shuffle_write_bytes": incl("shuffle_write_bytes", roots) / n,
            "spark.spill_bytes": incl("spill_bytes", roots) / n,
            "spark.executor_run_s": run_s / n,
            "spark.gc_s": incl("gc_ms", roots) / 1000 / n,
            "spark.core_busy": run_s / (op_wall * cores),
        }
    )
    for q in MIX:
        spans = [r for r in roots if r["name"] == f"plans.{q}"]
        m[f"plans.{q}.p50_s"] = (
            statistics.median(s["t1"] - s["t0"] for s in spans) if spans else 0.0
        )
        m[f"plans.{q}.jobs"] = incl("jobs", spans) / len(spans) if spans else 0.0
    stream = [tracer.stream_stats(r) for r in roots if r["name"].startswith("plans.st")]
    passes = max(1, sum(1 for r in roots if r["name"] == "plans.st2_stream_windowed"))
    for key in ("batches", "add_batch_s", "planning_s", "wal_commit_s", "state_rows"):
        m[f"streaming.{key}"] = sum(s.get(key, 0) for s in stream) / passes
    pct, value = tail(untraced)
    traced_p50 = statistics.median(o["s"] for o in traced)
    stored = getattr(wl, "stored_bytes_per_row", None)
    m.update({f"e2e.{k}": v for k, v in op_stats([o for o in ops if not o["traced"]]).items()})
    m.update(
        {
            "e2e.rows_per_s": sum(o.get("rows", 0) for o in ops if not o["traced"]) / sum(untraced),
            "e2e.stored_bytes_per_row": stored() if stored else 0.0,
            "e2e.op_tail_s": value,
            "e2e.op_tail_pct": pct,
            "e2e.fail_ratio": sum(1 for o in ops if o["errors"]) / len(ops),
            "trace.untraced_op_p50_s": statistics.median(untraced),
            "trace.traced_op_p50_s": traced_p50,
            "trace.overhead_ratio": traced_p50 / statistics.median(untraced),
            "trace.span_coverage": statistics.mean(tracer.layer_coverage(r, kids) for r in roots),
        }
    )
    m.update(extra)
    return m


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=("etl_nightly", "query_mix"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    units = {m["name"]: m["unit"] for m in wanted}

    base = os.path.join(ROOT, ".perfbench_run")
    rundir = os.path.join(base, f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(rundir)
    spark = None
    try:
        cores = pin_env(rundir)
        sys.path.insert(0, ROOT)
        sys.path.insert(0, HERE)
        import aqi_analysis_apache_airflow_spark  # noqa: F401 - fail fast without the program

        import etl
        import mix

        if args.workload == "etl_nightly":
            wl, run_ops = etl.EtlNightly(rundir, args.seed), etl_ops
        else:
            wl, run_ops = mix.QueryMix(rundir, args.seed), mix_ops
        log("inputs generated")
        spark, setups, starts = set_up(wl, spark_conf(rundir, bool(args.trace)))
        log(f"set-up: {setups}")
        tracer = None
        if args.trace:
            from spans import Tracer

            tracer = Tracer(spark)
        t0 = time.perf_counter()
        checks = wl.start(spark)  # warm-up and, on query_mix, the oracle check
        warmup_s = time.perf_counter() - t0
        log("warm-up and checks done")
        # The traced run alternates untraced and traced ops; one more
        # untimed op first lets both halves start equally warm.
        jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        cpu = lambda: program_cpu_s(jvm_pid)  # noqa: E731
        warm = run_ops(wl, spark, 0, None, cpu) if tracer else []
        ops = run_ops(wl, spark, args.seconds, tracer, cpu)
        log(f"{len(ops)} ops timed: {sum(o['s'] for o in ops):.1f}s")
        failed = sum(1 for o in warm + ops if o["errors"]) + len(checks)
        for o in warm + ops:
            for e in o["errors"]:
                print(f"op failed: {e}", file=sys.stderr)
        for name, why in checks.items():
            print(f"check failed: {name}: {why}", file=sys.stderr)
        if tracer is None:
            values = end_to_end(ops, setups)
        else:
            scan = scan_s(wl, spark)
            extra = {
                "session.start_s": statistics.median(starts),
                "setup.warmup_s": warmup_s,
                "sources.scan_s": scan,
                "sources.scan_rows_per_s": wl.source_rows / scan,
                "e2e.peak_rss_mb": peak_rss_mb(spark),
            }
            tracer.wait_streams()
            tracer.collect_jobs()
            tracer.close()
            app_id = spark.sparkContext.applicationId
            spark.stop()  # closes the event log
            tracer.read_event_log(os.path.join(rundir, "eventlog"), app_id)
            values = per_layer(tracer, wl, ops, cores, extra)
            print(tracer.table(), file=sys.stderr)
            out = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out, exist_ok=True)
            tracer.dump(os.path.join(out, f"trace-{args.workload}-{args.seed}.json"))
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(rundir, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(base)
    missing = set(units) - set(values)
    if missing:
        raise SystemExit(f"metrics not computed: {sorted(missing)}")
    result = {
        "correct": failed == 0,
        "attempted": len(warm) + len(ops) + len(wl.checked),
        "failed": failed,
        "metrics": {k: {"value": values[k], "unit": units[k]} for k in units},
    }
    print(json.dumps(result))


if __name__ == "__main__":
    main()
