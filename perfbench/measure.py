"""Measurement helpers that look at the engine from outside: a span tracer
kept in memory, Spark job-group statistics read through the public
``statusTracker``, streaming progress phases, a session census and a /proc
RSS sampler."""

from __future__ import annotations

import contextlib
import datetime as dt
import json
import os
import statistics
import threading
import time

PHASES = ("addBatch", "latestOffset", "queryPlanning", "walCommit", "commitOffsets")


def pct(values, q: float) -> float:
    """Nearest-rank percentile; 0.0 for an empty sample."""
    vals = sorted(values)
    if not vals:
        return 0.0
    k = max(0, min(len(vals) - 1, int(round(q / 100.0 * len(vals) + 0.5)) - 1))
    return float(vals[k])


def median(values) -> float:
    vals = list(values)
    return float(statistics.median(vals)) if vals else 0.0


class Tracer:
    """Spans (name, start, end, parent, run id) recorded at the benchmark's
    call boundaries into each engine layer. Disabled, ``span`` costs one
    attribute test; enabled, spans stay in memory until ``dump``."""

    def __init__(self, enabled: bool, run_id: str) -> None:
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        stack = self._local.__dict__.setdefault("stack", [])
        rec = {
            "id": f"{threading.get_ident()}-{len(self.spans)}-{len(stack)}",
            "name": name,
            "parent": stack[-1]["id"] if stack else None,
            "run_id": self.run_id,
            "thread": threading.current_thread().name,
            "start": time.perf_counter(),
        }
        stack.append(rec)
        try:
            yield
        finally:
            stack.pop()
            rec["end"] = time.perf_counter()
            with self._lock:
                self.spans.append(rec)

    def self_times(self) -> dict[str, float]:
        """Seconds per layer (the span name's prefix before ':') not covered
        by child spans."""
        child_time: dict[str, float] = {}
        for s in self.spans:
            if s["parent"] is not None:
                child_time[s["parent"]] = (
                    child_time.get(s["parent"], 0.0) + s["end"] - s["start"]
                )
        out: dict[str, float] = {}
        for s in self.spans:
            layer = s["name"].split(":", 1)[0]
            own = s["end"] - s["start"] - child_time.get(s["id"], 0.0)
            out[layer] = out.get(layer, 0.0) + max(own, 0.0)
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump({"run_id": self.run_id, "spans": self.spans}, fh)


def job_stats(spark, groups) -> dict[str, int]:
    """Jobs, stages, tasks and failed tasks of every job in ``groups`` (job
    group ids), read from ``SparkContext.statusTracker()``."""
    st = spark.sparkContext.statusTracker()
    out = {"jobs": 0, "stages": 0, "tasks": 0, "failed_tasks": 0}
    for g in groups:
        for jid in st.getJobIdsForGroup(g):
            info = st.getJobInfo(jid)
            out["jobs"] += 1
            if info is None:
                continue
            for sid in info.stageIds:
                stage = st.getStageInfo(sid)
                if stage is None:
                    continue  # never run: its output was reused
                out["stages"] += 1
                out["tasks"] += stage.numTasks
                out["failed_tasks"] += stage.numFailedTasks
    return out


def parse_progress(p) -> dict:
    """One ``StreamingQuery.recentProgress`` entry reduced to what the
    benchmark reads: trigger start/end (epoch seconds), phase durations,
    input rows and state gauges."""
    if isinstance(p, str):
        p = json.loads(p)
    elif not isinstance(p, dict):
        p = json.loads(p.json)
    start = dt.datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()
    dur = p.get("durationMs") or {}
    state = (p.get("stateOperators") or [{}])[0]
    return {
        "key": (str(p.get("runId")), p.get("batchId")),
        "start": start,
        "end": start + dur.get("triggerExecution", 0) / 1000.0,
        "trigger_ms": float(dur.get("triggerExecution", 0)),
        "phases": {k: float(dur.get(k, 0)) for k in PHASES},
        "rows": int(p.get("numInputRows") or 0),
        "state_rows": int(state.get("numRowsTotal") or 0),
        "state_mem": int(state.get("memoryUsedBytes") or 0),
    }


def data_triggers(progress) -> list[dict]:
    """Triggers that read input, one per (run, batch id), in start order."""
    by_batch: dict = {}
    for p in map(parse_progress, progress):
        if p["rows"] > 0:
            by_batch[p["key"]] = p
    return sorted(by_batch.values(), key=lambda t: t["start"])


def stream_layer(triggers: list[dict]) -> dict[str, float]:
    """The ``stream.*`` per-layer metrics over a list of data triggers."""
    out = {
        "stream.trigger_ms_p50": median(t["trigger_ms"] for t in triggers),
        "stream.batches": float(len(triggers)),
        "stream.rows_per_batch_p50": median(t["rows"] for t in triggers),
        "stream.state_rows_max": float(max((t["state_rows"] for t in triggers), default=0)),
        "stream.state_mem_bytes_max": float(max((t["state_mem"] for t in triggers), default=0)),
    }
    for k in PHASES:
        out[f"stream.{k}_ms_p50"] = median(t["phases"][k] for t in triggers)
    return out


def _is_memory_sink(spark, name: str) -> bool:
    plan = spark.table(name)._jdf.queryExecution().analyzed().toString()
    return "MemoryPlan" in plan


def census(spark, tmp_dir: str) -> dict[str, int]:
    """What a session holds: memory-sink tables, other temp views, entries
    in the temp dir, active streams and persisted RDDs."""
    sinks = views = 0
    for t in spark.catalog.listTables():
        if not t.isTemporary:
            continue
        if _is_memory_sink(spark, t.name):
            sinks += 1
        else:
            views += 1
    return {
        "sink_tables": sinks,
        "temp_views": views,
        "tmp_entries": len(os.listdir(tmp_dir)),
        "active_streams": len(spark.streams.active),
        "persisted_rdds": int(spark.sparkContext._jsc.getPersistentRDDs().size()),
    }


def _tree_pids(root: int) -> list[int]:
    pids, todo = [], [root]
    while todo:
        pid = todo.pop()
        pids.append(pid)
        try:
            for tid in os.listdir(f"/proc/{pid}/task"):
                with open(f"/proc/{pid}/task/{tid}/children") as fh:
                    todo.extend(int(c) for c in fh.read().split())
        except OSError:
            continue  # the process ended between listing and reading
    return pids


def tree_rss_mb(root: int | None = None) -> float:
    total_kb = 0
    for pid in _tree_pids(root or os.getpid()):
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmRSS:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0


class RssSampler:
    """Samples the RSS of this process and all its descendants (the Spark
    JVM and its Python workers) every ``interval`` seconds; ``peak_mb`` is
    the largest sum seen."""

    def __init__(self, interval: float = 0.2) -> None:
        self.interval = interval
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_rss_mb())
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak_mb = max(self.peak_mb, tree_rss_mb())
