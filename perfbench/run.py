"""Benchmark of the streaming analytics engine: three workloads, end-to-end
and per-layer metrics, correctness checks.

Run from the repository root:

    python3 perfbench/run.py --workload live_reference --seed 1 --seconds 10 --trace 0

The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``. Lines before it
name every metric with its unit. Tables are generated once under
``.perfbench/`` in the repository root; each run works in its own directory
there and removes it on exit. See perfbench/README.md for the workloads and
which layer metric should move which end-to-end metric.
"""

from __future__ import annotations

import argparse
import contextlib
import hashlib
import json
import os
import platform
import shutil
import statistics
import sys
import time

import datagen
import measure

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "m13_sparkstreaming_python_azure_spark"
SF = 0.05
# set-ups per run; the first SETUP_SKIP are left out of setup_s: the first
# launches the JVM and the next ones still get faster as its JIT warms up
SETUPS = 4
SETUP_SKIP = 2

END_TO_END = {"setup_s": "s", "pass_s": "s", "retained_heap_mb": "MB"}


def per_layer_units(batch: list[str], gates: list[str]) -> dict[str, str]:
    units = {
        "session.get_spark_s": "s", "session.jvm_start_s": "s", "peak_rss_mb": "MB",
        "streaming.pipeline.start_s": "s",
        "stream.trigger_ms_p50": "ms", "stream.addBatch_ms_p50": "ms",
        "stream.latestOffset_ms_p50": "ms", "stream.queryPlanning_ms_p50": "ms",
        "stream.walCommit_ms_p50": "ms", "stream.commitOffsets_ms_p50": "ms",
        "stream.batches": "count", "stream.rows_per_batch_p50": "count",
        "stream.state_rows_max": "count", "stream.state_mem_bytes_max": "bytes",
        "stream.backlog_files_max": "count",
        "operators.window.top10_build_ms_p50": "ms",
        "operators.window.top10_collect_ms_p50": "ms",
        "operators.window.top10_jobs": "count",
        "freshness_p50_ms": "ms", "freshness_p90_ms": "ms",
        "top10_p50_ms": "ms", "top10_p90_ms": "ms", "drain_s": "s",
        "error_rate": "ratio",
        "queries.build_s": "s", "queries.action_s": "s", "queries.jobs": "count",
        "queries.stages": "count", "queries.tasks": "count",
        "queries.failed_tasks": "count",
    }
    for n in batch + gates:
        units.update({f"queries.{n}.build_s": "s", f"queries.{n}.action_s": "s",
                      f"queries.{n}.jobs": "count"})
    units.update({
        "census.sink_tables_added": "count", "census.temp_views_added": "count",
        "census.tmp_entries_added": "count", "census.active_streams": "count",
        "census.persisted_rdds": "count",
        "generator.lag_ms_max": "ms", "calibration.anchor_s": "s",
        "trace.overhead_pct": "%",
    })
    for layer in ("session", "stream", "window", "queries", "generator"):
        units[f"selftime.{layer}_s"] = "s"
    return units


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=["live_reference", "batch_queries", "streaming_gates"])
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=int, default=10)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py"))
            and os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))):
        print(f"perfbench: the engine ({PACKAGE}/, __spark_entry__.py) is not "
              f"in {ROOT}; run from a full checkout", file=sys.stderr)
        return 2
    state = os.path.join(ROOT, ".perfbench")
    work = os.path.join(state, f"run-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # everything the run and the engine write stays under the checkout
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # no hsperfdata file: HotSpot writes it under the system temp dir
    # whatever java.io.tmpdir says
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    sys.path[:0] = [ROOT, HERE]
    try:
        return Run(args, state, work, tmp).main()
    finally:
        shutil.rmtree(work, ignore_errors=True)


class Run:
    def __init__(self, args, state: str, work: str, tmp: str) -> None:
        self.workload = args.workload
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.state, self.work, self.tmp = state, work, tmp
        self.tracer = measure.Tracer(self.trace, f"{self.workload}-{self.seed}-{os.getpid()}")
        self.spark = None
        self.attempted = 0
        self.failures: list[str] = []
        self.notes: list[str] = []
        self.setup_s: list[float] = []
        self.get_spark_s: list[float] = []
        self.run_ids: list[str] = []
        self.stream_progress: list = []
        self._oracle: dict | None = None
        self.t_start = time.perf_counter()
        self.phases: dict[str, float] = {}

    def mark(self, phase: str) -> None:
        """Record when a phase of the run ended, in seconds since start."""
        self.phases[phase] = round(time.perf_counter() - self.t_start, 2)

    # -------------------------------------------------------------- helpers

    def span(self, name: str):
        return self.tracer.span(name)

    @contextlib.contextmanager
    def job_group(self, group: str):
        sc = self.spark.sparkContext
        sc.setJobGroup(group, group)
        try:
            yield
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)

    def jobs(self, groups) -> dict[str, int]:
        return measure.job_stats(self.spark, groups)

    def fail(self, msg: str) -> None:
        self.failures.append(msg)
        print(f"FAILED: {msg}", file=sys.stderr)

    def note(self, msg: str) -> None:
        self.notes.append(msg)

    def _session(self):
        from m13_sparkstreaming_python_azure_spark.session import get_spark

        spark = get_spark("perfbench", extra_conf={
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.tmp}",
            "spark.sql.streaming.numRecentProgressUpdates": "100000",
            "spark.ui.showConsoleProgress": "false",
        })
        spark.sparkContext.setLogLevel("ERROR")
        return spark

    def _stop_session(self) -> None:
        for q in self.spark.streams.active:
            q.stop()
        self.spark.stop()
        self.spark = None

    def setup(self, ready) -> None:
        """Set the workload up SETUPS times, each from no session to its first
        answer. The last session stays for the run."""
        for i in range(SETUPS):
            if self.spark is not None:
                self._stop_session()
            t0 = time.perf_counter()
            with self.span("session:get_spark"):
                self.spark = self._session()
            self.get_spark_s.append(time.perf_counter() - t0)
            ready(self.spark, i)
            self.setup_s.append(time.perf_counter() - t0)
        self.retained_heap_mb = self._heap_after_gc()
        self.mark("setup")
        if self.trace:
            self._listen()
        self.cal_start = calibration(self.spark)

    def _heap_after_gc(self) -> float:
        """MB of JVM heap in use after a full collection."""
        jvm = self.spark.sparkContext._jvm
        # the context cleaner frees broadcasts and shuffles only after a
        # collection has cleared their references: collect, let it run,
        # collect again
        jvm.System.gc()
        time.sleep(0.5)
        jvm.System.gc()
        runtime = jvm.Runtime.getRuntime()
        return (runtime.totalMemory() - runtime.freeMemory()) / 2**20

    def _listen(self) -> None:
        """Record the run id (the job group of its trigger jobs) and the
        progress of every stream started from now on."""
        from pyspark.sql.streaming import StreamingQueryListener

        run = self

        class Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                run.run_ids.append(str(event.runId))

            def onQueryProgress(self, event):
                run.stream_progress.append(event.progress.json)

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.spark.streams.addListener(Listener())

    # -------------------------------------------------------------- queries

    @property
    def query_fns(self):
        import __spark_entry__

        return __spark_entry__.queries()

    @property
    def data_dir(self) -> str:
        return datagen.ensure_tables(self.state, SF)

    def timed_query(self, name: str, group: str) -> dict | None:
        """One closed-loop operation: build the query, then ``.count()``."""
        fn = self.query_fns[name]
        n_runs = len(self.run_ids)
        self.attempted += 1
        try:
            with self.job_group(group):
                with self.span(f"queries:{name}:build"):
                    t0 = time.perf_counter()
                    df = fn(self.spark, self.data_dir)
                    t1 = time.perf_counter()
                with self.span(f"queries:{name}:action"):
                    n = df.count()
                    t2 = time.perf_counter()
        except Exception as e:  # noqa: BLE001 - counted as a failed operation
            self.fail(f"{name} raised: {e!r}")
            return None
        finally:
            # operators persist intermediates; each call pays its own
            self.spark.catalog.clearCache()
        want = self.oracle()[name]["rows"]
        if n != want:
            self.fail(f"{name} returned {n} rows, the oracle {want}")
        groups = [group] + self.run_ids[n_runs:]
        jobs = self.jobs(groups)["jobs"] if self.trace else 0
        return {"build": t1 - t0, "action": t2 - t1, "jobs": jobs, "groups": groups, "df": df}

    def cached(self, key: str, compute):
        """``compute()``'s JSON result, computed once per table version and
        kept under the state dir."""
        path = os.path.join(self.state, f"{key}-v{datagen.VERSION}-sf{SF:g}.json")
        if os.path.isfile(path):
            with open(path) as fh:
                return json.load(fh)
        value = compute()
        with open(f"{path}.tmp-{os.getpid()}", "w") as fh:
            json.dump(value, fh)
        os.replace(f"{path}.tmp-{os.getpid()}", path)
        return value

    def oracle(self) -> dict:
        """Row count, columns and order-insensitive hash of every query's
        DuckDB oracle answer over the generated tables."""
        from workloads import BATCH_QUERIES, GATES

        if self._oracle is None:
            names = BATCH_QUERIES + GATES
            key = "oracle-" + hashlib.sha256(" ".join(names).encode()).hexdigest()[:12]
            self._oracle = self.cached(key, lambda: self._compute_oracle(names))
        return self._oracle

    def _compute_oracle(self, names: list[str]) -> dict:
        import duckdb

        import __spark_entry__
        from m13_sparkstreaming_python_azure_spark.catalog import TABLES
        from workloads import rows_of

        os.environ["SPARK_GRAFT_ORACLE_SF_DIR"] = self.data_dir
        sql = __spark_entry__.oracle_sql()
        con = duckdb.connect()
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"'{os.path.join(self.data_dir, t + '.parquet')}'")
        out = {}
        for name in names:
            pdf = con.execute(sql[name]).fetchdf()
            out[name] = {"rows": len(pdf), "columns": sorted(pdf.columns),
                         "hash": _hash(rows_of(pdf))}
        con.close()
        return out

    def check_oracle(self, name: str, pdf) -> None:
        from workloads import rows_of

        want = self.oracle()[name]
        got = {"rows": len(pdf), "columns": sorted(pdf.columns), "hash": _hash(rows_of(pdf))}
        if got != want:
            self.fail(f"{name} differs from its oracle: {got} != {want}")

    # ------------------------------------------------------------------ run

    def main(self) -> int:
        import pyspark
        from workloads import BATCH_QUERIES, GATES, WORKLOADS

        self.data_dir  # generate (or reuse) the tables before any timing
        if self.workload != "live_reference":
            self.oracle()
        self.mark("tables")
        # the sampler walks /proc five times a second; only the traced run,
        # which reports peak_rss_mb, pays for it
        with measure.RssSampler() if self.trace else contextlib.nullcontext() as rss:
            result = WORKLOADS[self.workload](self)
            self.mark("workload")
            leftover = len(self.spark.streams.active)
            if leftover:
                self.fail(f"{leftover} streams still active at the end of the run")
            java = self.spark.sparkContext._jvm.System.getProperty("java.version")
            cal_start, cal_end = self.cal_start, calibration(self.spark)
            self.spark.stop()
        _stop_jvm()
        self.mark("end")

        n_failed = min(len(self.failures), max(self.attempted, 1))
        e2e = {
            "setup_s": statistics.median(self.setup_s[SETUP_SKIP:]),
            "pass_s": result["pass_s"],
            "retained_heap_mb": self.retained_heap_mb,
        }
        units = per_layer_units(BATCH_QUERIES, GATES)
        layer = dict.fromkeys(units, 0.0)
        layer.update(result["layer"])
        layer.update({
            "session.get_spark_s": statistics.median(self.get_spark_s[SETUP_SKIP:]),
            "session.jvm_start_s": self.get_spark_s[0],
            "error_rate": n_failed / max(self.attempted, 1),
            "calibration.anchor_s": min(cal_start, cal_end),
            "peak_rss_mb": rss.peak_mb if self.trace else 0.0,
        })
        results_dir = os.path.join(self.state, "results")
        os.makedirs(results_dir, exist_ok=True)
        code = code_hash()
        stem = os.path.join(results_dir, f"{self.workload}-{code}-seed{self.seed}")
        if self.trace:
            for k, v in self.tracer.self_times().items():
                if f"selftime.{k}_s" in layer:
                    layer[f"selftime.{k}_s"] = v
            base = _untraced_pass_s(results_dir, self.workload, code, self.seconds)
            if base:
                layer["trace.overhead_pct"] = (e2e["pass_s"] - base) / base * 100.0
            else:
                self.note("no untraced run of this workload, code and --seconds "
                          "yet: trace.overhead_pct is 0")
            self.tracer.dump(f"{stem}-spans.json")

        context = {
            "workload": self.workload, "seed": self.seed, "seconds": self.seconds,
            "trace": int(self.trace), "nproc": len(os.sched_getaffinity(0)),
            "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
            "spark": pyspark.__version__, "java": java,
            "python": platform.python_version(), "sf": SF, "code": code,
            "calibration_start_s": cal_start, "calibration_end_s": cal_end,
            "setup_s_samples": self.setup_s, "phases_s": self.phases,
        }
        record = {"context": context, "end_to_end": e2e, "per_layer": layer,
                  "failures": self.failures, "notes": self.notes,
                  "samples": result.get("samples", {})}
        with open(f"{stem}-{'traced' if self.trace else 'untraced'}.json", "w") as fh:
            json.dump(record, fh, indent=1)

        print("context: " + " ".join(f"{k}={v}" for k, v in context.items()))
        for note in self.notes:
            print(f"note: {note}")
        for k, v in e2e.items():
            print(f"end_to_end {k} = {v:.6g} {END_TO_END[k]}")
        for k, v in layer.items():
            print(f"per_layer {k} = {v:.6g} {units[k]}")
        shown = e2e if not self.trace else layer
        unit_of = END_TO_END if not self.trace else units
        print(json.dumps({
            "correct": not self.failures,
            "attempted": max(self.attempted, 1),
            "failed": n_failed,
            "metrics": {k: {"value": v, "unit": unit_of[k]} for k, v in shown.items()},
        }))
        return 0


def code_hash() -> str:
    """Short hash of the engine and benchmark sources: results are compared
    only with results of the same code."""
    h = hashlib.sha256()
    files = [os.path.join(ROOT, "__spark_entry__.py"), os.path.join(ROOT, "bench.py")]
    for top in (os.path.join(ROOT, PACKAGE), HERE):
        for d, dirs, names in os.walk(top):
            dirs[:] = [x for x in dirs if x != "__pycache__"]
            files += [os.path.join(d, n) for n in names if n.endswith(".py")]
    for path in sorted(files):
        h.update(os.path.relpath(path, ROOT).encode() + b"\0")
        with open(path, "rb") as fh:
            h.update(fh.read() + b"\0")
    return h.hexdigest()[:12]


def _untraced_pass_s(results_dir: str, workload: str, code: str, seconds: int) -> float:
    """Median ``pass_s`` over the untraced runs of the workload on record
    that ran the same code for the same ``--seconds``, any seed; 0.0 if
    none."""
    values = []
    for f in os.listdir(results_dir):
        if f.startswith(f"{workload}-{code}-seed") and f.endswith("-untraced.json"):
            with open(os.path.join(results_dir, f)) as fh:
                record = json.load(fh)
            if record["context"]["seconds"] == seconds:
                values.append(record["end_to_end"]["pass_s"])
    return statistics.median(values) if values else 0.0


def calibration(spark) -> float:
    """The fixed-cost machine-speed anchor of ``bench.py``, in seconds."""
    from bench import _calibration

    return _calibration(spark)


def _hash(rows) -> str:
    return hashlib.sha256(json.dumps(rows).encode()).hexdigest()


def _stop_jvm() -> None:
    """End the Spark JVM this process launched and wait for it: closing its
    stdin is the gateway's signal to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is None:
        return
    gw.shutdown()
    if proc is None:
        return
    if proc.stdin is not None:
        proc.stdin.close()
    try:
        proc.wait(timeout=30)
    except Exception:  # noqa: BLE001 - a JVM that ignores EOF is killed
        proc.kill()
        proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


if __name__ == "__main__":
    sys.exit(main())
