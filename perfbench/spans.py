"""Span tracer for the traced run (``--trace 1``).

Spans are recorded from the benchmark's own files: :meth:`Tracer.wrap`
replaces a public function on every loaded module of the program that
bound it (so nested calls such as ``upsert_counties`` ->
``backfill_counties_from_measurements`` and every ``Warehouse.overwrite``
are captured), and the benchmark opens spans around its own calls.

Each span gets its own Spark job group, so jobs, stages and tasks are
attributed to the innermost span: counts come from ``statusTracker``
while the session is up, bytes and times from the event log after it
stops. Streaming queries run their jobs under their run id, which a
``StreamingQueryListener`` maps back to the span that started them.
Spans stay in memory until the run ends and :meth:`Tracer.dump` writes them.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import os
import sys
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

from pyspark.sql.streaming import StreamingQueryListener

PKG = "aqi_analysis_apache_airflow_spark"
#: Prefixes of the spans that wrap the program's layers (install_layers).
LAYERS = ("metadata.", "source_to_stage.", "stage_to_nds.", "warehouse.", "operators.", "sources.")


def nospan(_name: str):
    """The span factory of untraced ops."""
    return contextlib.nullcontext()


class _StreamListener(StreamingQueryListener):
    def __init__(self, tracer: "Tracer"):
        self.tracer = tracer

    def onQueryStarted(self, event) -> None:
        span = self.tracer.current()
        if span is not None:
            self.tracer.groups[str(event.runId)] = span

    def onQueryProgress(self, event) -> None:
        p = event.progress
        d = p.durationMs or {}
        self.tracer.stream_progress.append(
            {
                "run_id": str(p.runId),
                "add_batch_ms": d.get("addBatch", 0),
                "planning_ms": d.get("queryPlanning", 0),
                "wal_commit_ms": d.get("walCommit", 0),
                "state_rows": sum(op.numRowsTotal for op in p.stateOperators),
            }
        )

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        self.tracer.terminated.add(str(event.runId))


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self.groups: dict[str, dict] = {}  # job group -> span
        self.stream_progress: list[dict] = []
        self.terminated: set[str] = set()
        self._stack: list[dict] = []
        self._lock = threading.Lock()
        self._undo: list[tuple[object, str, object]] = []
        self._listener = _StreamListener(self)
        spark.streams.addListener(self._listener)

    def current(self) -> dict | None:
        return self._stack[-1] if self._stack else None

    @contextmanager
    def span(self, name: str):
        with self._lock:
            parent = self.current()
            rec = {"id": len(self.spans) + 1, "name": name, "parent": parent and parent["id"]}
            rec["group"] = f"perfbench-span-{rec['id']}"
            self.spans.append(rec)
            self.groups[rec["group"]] = rec
            self._stack.append(rec)
        self.sc.setJobGroup(rec["group"], name)
        rec["t0"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["t1"] = time.perf_counter()
            with self._lock:
                self._stack.remove(rec)
                parent = self.current()
            if parent is not None:
                self.sc.setJobGroup(parent["group"], parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def wrap(self, owner, attr: str, name: str, after=None) -> None:
        """Trace ``owner.attr`` (a module function or a class method) on
        every module of the program that bound the same object;
        ``after(span, args, result)`` may annotate the span."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with tracer.span(name) as rec:
                out = orig(*args, **kwargs)
                if after is not None:
                    after(rec, args, out)
                return out

        targets = [owner] + [
            m
            for n, m in list(sys.modules.items())
            if n.startswith(PKG) and m is not owner and getattr(m, attr, None) is orig
        ]
        for t in targets:
            setattr(t, attr, traced)
            self._undo.append((t, attr, orig))

    def uninstall(self) -> None:
        for t, attr, orig in reversed(self._undo):
            setattr(t, attr, orig)
        self._undo.clear()

    def close(self) -> None:
        self.uninstall()
        self.spark.streams.removeListener(self._listener)

    def wait_streams(self, timeout: float = 5.0) -> None:
        """Listener events arrive asynchronously: wait for every started
        stream's termination event before reading the progress."""
        deadline = time.monotonic() + timeout
        while time.monotonic() < deadline:
            started = {g for g in self.groups if not g.startswith("perfbench-span-")}
            if started <= self.terminated:
                return
            time.sleep(0.05)

    def collect_jobs(self) -> None:
        """Attach job, stage and task counts to every span (while the
        SparkContext is still up)."""
        st = self.sc.statusTracker()
        for group, rec in self.groups.items():
            for jid in st.getJobIdsForGroup(group):
                info = st.getJobInfo(jid)
                if info is None:
                    continue
                rec.setdefault("jobs", []).append(jid)
                for sid in info.stageIds:
                    s = st.getStageInfo(sid)
                    if s is None or s.numCompletedTasks + s.numFailedTasks == 0:
                        continue  # skipped: its output was reused
                    rec["stages"] = rec.get("stages", 0) + 1
                    rec["tasks"] = rec.get("tasks", 0) + s.numCompletedTasks + s.numFailedTasks
                    rec["failed_tasks"] = rec.get("failed_tasks", 0) + s.numFailedTasks

    def read_event_log(self, log_dir: str, app_id: str) -> None:
        """Attach executor run and GC time, input, shuffle-write and
        spill bytes to every span, from the (closed) event log."""
        paths = glob.glob(os.path.join(log_dir, f"{app_id}*"))
        if not paths:
            raise FileNotFoundError(f"no event log for {app_id} in {log_dir}")
        stage_group: dict[int, str] = {}
        with open(paths[0]) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    for sid in ev.get("Stage IDs", []):
                        stage_group.setdefault(sid, group)
                elif kind == "SparkListenerTaskEnd":
                    rec = self.groups.get(stage_group.get(ev.get("Stage ID")))
                    m = ev.get("Task Metrics")
                    if rec is None or not m:
                        continue
                    add = lambda k, v: rec.__setitem__(k, rec.get(k, 0) + v)  # noqa: E731
                    add("executor_run_ms", m.get("Executor Run Time", 0))
                    add("gc_ms", m.get("JVM GC Time", 0))
                    add("input_bytes", (m.get("Input Metrics") or {}).get("Bytes Read", 0))
                    add(
                        "shuffle_write_bytes",
                        (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0),
                    )
                    add("spill_bytes", m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0))

    def stream_stats(self, span: dict) -> dict:
        """Micro-batch totals of the streams started inside ``span``."""
        runs = {g for g, rec in self.groups.items() if rec is span and not g.startswith("perfbench-span-")}
        out = defaultdict(float)
        last_state: dict[str, int] = {}
        for p in self.stream_progress:
            if p["run_id"] in runs:
                out["batches"] += 1
                out["add_batch_s"] += p["add_batch_ms"] / 1000
                out["planning_s"] += p["planning_ms"] / 1000
                out["wal_commit_s"] += p["wal_commit_ms"] / 1000
                last_state[p["run_id"]] = p["state_rows"]
        out["state_rows"] = sum(last_state.values())
        return dict(out)

    # -- aggregation -----------------------------------------------------

    def children(self) -> dict[int, list[dict]]:
        kids: dict[int, list[dict]] = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None:
                kids[s["parent"]].append(s)
        return kids

    def inclusive(self, span: dict, key: str, kids=None) -> float:
        """``key`` summed over ``span`` and all its descendants."""
        kids = kids if kids is not None else self.children()
        total = span.get(key, 0) if key != "jobs" else len(span.get("jobs", []))
        return total + sum(self.inclusive(c, key, kids) for c in kids.get(span["id"], []))

    def self_time(self, span: dict, kids=None) -> float:
        kids = kids if kids is not None else self.children()
        dur = span["t1"] - span["t0"]
        return dur - sum(c["t1"] - c["t0"] for c in kids.get(span["id"], []))

    def layer_coverage(self, span: dict, kids) -> float:
        """Share of ``span``'s wall time inside the union of the layer
        spans (``LAYERS``) below it."""

        def below(s):
            for c in kids.get(s["id"], []):
                yield c
                yield from below(c)

        covered, end = 0.0, float("-inf")
        for t0, t1 in sorted((s["t0"], s["t1"]) for s in below(span) if s["name"].startswith(LAYERS)):
            if t1 > end:
                covered += t1 - max(t0, end)
                end = t1
        return covered / (span["t1"] - span["t0"])

    def table(self) -> str:
        """Self-time table: one row per span name."""
        kids = self.children()
        rows: dict[str, list[float]] = defaultdict(lambda: [0, 0.0, 0.0, 0])
        for s in self.spans:
            r = rows[s["name"]]
            r[0] += 1
            r[1] += s["t1"] - s["t0"]
            r[2] += self.self_time(s, kids)
            r[3] += len(s.get("jobs", []))
        lines = [f"{'span':58} {'calls':>6} {'incl_s':>9} {'self_s':>9} {'jobs':>6}"]
        for name, (n, incl, own, jobs) in sorted(rows.items(), key=lambda kv: -kv[1][2]):
            lines.append(f"{name:58} {n:6d} {incl:9.3f} {own:9.3f} {jobs:6d}")
        return "\n".join(lines)

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh, default=str)


def install_layers(tracer: Tracer) -> None:
    """Wrap the public functions of every layer the per-layer metrics
    name (NOTES.md), by module attribute; every span name starts with
    one of ``LAYERS``."""
    from aqi_analysis_apache_airflow_spark.operators import dedupe, filters, merge
    from aqi_analysis_apache_airflow_spark.pipelines import metadata, warehouse
    from aqi_analysis_apache_airflow_spark.pipelines import source_to_stage as s2s
    from aqi_analysis_apache_airflow_spark.pipelines import stage_to_nds as s2n
    from aqi_analysis_apache_airflow_spark.sources import readers

    def written(span: dict, args: tuple, _out) -> None:
        wh, _df, table = args[:3]
        span["bytes"] = sum(
            os.path.getsize(f)
            for f in glob.glob(os.path.join(wh.path(table), "**", "*.parquet"), recursive=True)
        )

    for f in ("set_cet", "set_lset", "get_metadata"):
        tracer.wrap(metadata, f, f"metadata.{f}")
    for f in ("process_aqi_files", "process_counties_file"):
        tracer.wrap(s2s, f, f"source_to_stage.{f}")
    for f in (
        "upsert_states",
        "upsert_counties",
        "backfill_counties_from_measurements",
        "patch_windham",
        "upsert_measurements",
    ):
        tracer.wrap(s2n, f, f"stage_to_nds.{f}")
    tracer.wrap(warehouse.Warehouse, "overwrite", "warehouse.overwrite", after=written)
    tracer.wrap(warehouse.Warehouse, "truncate", "warehouse.truncate")
    for mod, f in (
        (merge, "merge_upsert"),
        (dedupe, "keep_first"),
        (filters, "not_in"),
        (filters, "anti_join"),
        (filters, "cdc_window"),
    ):
        tracer.wrap(mod, f, f"operators.{f}")
    for f in ("read_aqi_csv_glob", "read_counties_csv"):
        tracer.wrap(readers, f, f"sources.{f}")
