"""The benchmark workloads. Each takes a ``Run`` (session handling, tracer,
failure accounting) and returns its end-to-end and per-layer numbers.

Every call into an engine layer runs inside a ``Run.span`` so that the traced
run records it, and under a job group of its own so that its jobs can be
read back from Spark's status tracker."""

from __future__ import annotations

import os
import random
import threading
import time

from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from m13_sparkstreaming_python_azure_spark.operators.aggregate import grouped_stats
from m13_sparkstreaming_python_azure_spark.operators.window import top1_per_group, topk
from m13_sparkstreaming_python_azure_spark.streaming.pipeline import StreamingAggPipeline

import datagen
import measure
from measure import median, pct

# Action-dominated queries do their work in the final action; build-dominated
# ones run eager Spark jobs before their DataFrame is returned.
BATCH_ACTION = ["pricing_summary", "daily_event_stats", "topk_orders"]
BATCH_BUILD = ["bloom_pruned_revenue"]
BATCH_QUERIES = BATCH_ACTION + BATCH_BUILD
GATES = ["streaming_daily_stats", "streaming_latest_state"]
MIN_PASSES = 3
# untimed passes before the timed ones: after one or two, the timed passes
# were still getting faster as the JIT warmed up
WARM_PASSES = 3

CHUNK_ROWS = 830
CHUNKS_PER_S = 2.0
# chunks published before the measured ones: trigger times keep falling over
# the first ~20 back-to-back triggers as the JVM's JIT warms up
WARM_CHUNKS = 40
# the reader's think time between top-10 reads: without it the reader keeps
# every task slot the stream leaves free busy, and trigger times swing with
# how the two happen to overlap
READ_THINK_S = 0.5

EVENTS_SCHEMA = StructType([
    StructField("event_id", LongType()),
    StructField("ts", TimestampType()),
    StructField("user_id", LongType()),
    StructField("event_type", StringType()),
    StructField("value", DoubleType()),
    StructField("props", StringType()),
])


def events_daily(stream):
    """The engine's ``events_daily`` shape over a (streaming) events frame:
    per (event_type, event_date), HLL distinct users and value stats."""
    return grouped_stats(
        stream.withColumn("event_date", F.date_format("ts", "yyyy-MM-dd")),
        ["event_type", "event_date"], "user_id", "value",
        distinct_alias="distinct_users", approx=True,
    )


def top10(agg):
    """The reference's flagship read: best day per key, then the top 10."""
    best = top1_per_group(
        agg, ["event_type"], [F.desc("distinct_users"), F.desc("event_date")]
    )
    return topk(best, [F.desc("distinct_users"), F.asc("event_type")], 10)


def rows_of(pdf, ordered: bool = False) -> list[tuple]:
    """Rows as string tuples with columns in name order; sorted unless the
    row order is part of the answer."""
    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    pdf = pdf.astype(object).where(pdf.notna(), None)
    rows = [tuple(str(v) for v in r) for r in pdf.itertuples(index=False)]
    return rows if ordered else sorted(rows)


# ---------------------------------------------------------------- live stream


def live_rows(pdf, ordered: bool = False) -> list[tuple]:
    """``rows_of`` for the live aggregate. ``avg_value`` is a double sum whose
    last bits depend on the order partial sums fold in, which differs between
    a stream's batches and one batch query; it is compared to 8 decimals."""
    return rows_of(pdf.assign(avg_value=pdf["avg_value"].round(8)), ordered)


def live_reference(run) -> dict:
    """Open loop: one publisher hard-links staged chunks into the landing dir
    at CHUNKS_PER_S while one closed-loop reader runs top-10 reads over the
    live memory sink. WARM_CHUNKS chunks go first; the measured ones follow
    on the same schedule for ``run.seconds``."""
    n_rows = (1 + WARM_CHUNKS + int(run.seconds * CHUNKS_PER_S)) * CHUNK_ROWS
    order = datagen.stage_chunks(
        datagen.ensure_stream_events(run.state),
        os.path.join(run.work, "stage"), n_rows, run.seed, CHUNK_ROWS,
    )
    first, rest = order[0], order[1:]
    total_rows = sum(r for _, r in order)
    start_s: list[float] = []
    pipes: list[StreamingAggPipeline] = []

    def ready(spark, i: int) -> None:
        # a fresh landing dir per set-up, holding the first chunk; ready
        # means that chunk is in the sink
        landing = os.path.join(run.work, f"landing-{i}")
        os.makedirs(landing)
        os.link(first[0], os.path.join(landing, "c-first.parquet"))
        pipe = StreamingAggPipeline(
            spark, landing, EVENTS_SCHEMA, events_daily, query_name=f"live_sink_{i}"
        )
        with run.span("stream:pipeline.start"):
            t0 = time.perf_counter()
            q = pipe.start()
            start_s.append(time.perf_counter() - t0)
        pipes.append(pipe)
        with run.span("stream:first_batch"):
            wait_rows(q, first[1], timeout=120)

    run.setup(ready)
    spark, pipe = run.spark, pipes[-1]
    q, sink = pipe.query, pipe.query_name

    def expected() -> dict:
        # the same transform over the same rows as one batch query; the
        # seed moves chunk boundaries, not rows, so this is cached per size
        batch = events_daily(spark.read.schema(EVENTS_SCHEMA).parquet(*[p for p, _ in order]))
        return {"agg": live_rows(batch.toPandas()),
                "top": live_rows(top10(batch).toPandas(), ordered=True)}

    want = run.cached(f"live-expected-stream-rows{n_rows}", expected)
    expected_agg = [tuple(r) for r in want["agg"]]
    expected_top = [tuple(r) for r in want["top"]]

    landing = os.path.join(run.work, f"landing-{len(pipes) - 1}")
    sent: list[tuple[float, float, int]] = []  # (due, actual, rows)
    reads: list[dict] = []
    stop_reader = threading.Event()
    draining = threading.Event()  # set once every chunk is in: no more think time
    t0 = time.time() + 0.2

    def publish() -> None:
        for i, (path, rows) in enumerate(rest):
            due = t0 + i / CHUNKS_PER_S
            time.sleep(max(0.0, due - time.time()))
            with run.span("generator:publish"):
                os.link(path, os.path.join(landing, f"c-{i:05d}.parquet"))
            sent.append((due, time.time(), rows))

    def read_loop() -> None:
        k = 0
        while not stop_reader.is_set():
            group = f"top10-{k}"
            k += 1
            rec = {"start": time.time()}
            try:
                with run.job_group(group):
                    with run.span("window:top10_build"):
                        a = time.perf_counter()
                        df = top10(spark.table(sink))
                        b = time.perf_counter()
                    with run.span("window:top10_collect"):
                        pdf = df.toPandas()
                        c = time.perf_counter()
            except Exception as e:  # noqa: BLE001 - a failed read is counted, the loop goes on
                run.fail(f"top-10 read failed: {e!r}")
                reads.append({**rec, "end": time.time(), "ok": False})
                time.sleep(0.1)
                continue
            rec.update(end=time.time(), build=b - a, collect=c - b, ok=True,
                       group=group, rows=live_rows(pdf, ordered=True))
            reads.append(rec)
            draining.wait(READ_THINK_S)

    publisher = threading.Thread(target=publish, name="publisher")
    reader = threading.Thread(target=read_loop, name="reader")
    reader.start()
    publisher.start()
    publisher.join()
    try:
        wait_rows(q, total_rows, timeout=120)
    except Exception as e:  # noqa: BLE001 - a stream failure is counted
        run.fail(f"stream did not consume every chunk: {e}")
    triggers = measure.data_triggers(q.recentProgress)
    last_end = max((t["end"] for t in triggers), default=time.time())
    draining.set()
    deadline = time.time() + 60
    while time.time() < deadline and not any(r["start"] >= last_end for r in reads):
        time.sleep(0.02)
    stop_reader.set()
    reader.join()
    if q.exception() is not None:
        run.fail(f"live stream raised: {q.exception()}")

    # map chunks to the first trigger that contains them: files are linked
    # one at a time, so every listing sees a prefix of the publish order and
    # cumulative input rows identify that prefix exactly
    fresh_ms, backlog, j = [], [], 0
    cum = 0
    for t in triggers:
        cum += t["rows"]
        n_in = 0
        while j < len(sent) and first[1] + sum(s[2] for s in sent[: j + 1]) <= cum:
            fresh_ms.append((t["end"] - sent[j][0]) * 1000.0)
            j += 1
            n_in += 1
        backlog.append(n_in)
    if j != len(sent):
        run.fail(f"{len(sent) - j} of {len(sent)} chunks never reached a trigger")
    final = next((r for r in reads if r["ok"] and r["start"] >= last_end), None)
    if final is None or final["rows"] != expected_top:
        run.fail("top-10 after the last trigger differs from the batch top-10")
    drain = (final["end"] - sent[-1][1]) if final else 0.0
    sink_rows = live_rows(spark.table(sink).toPandas())
    if sink_rows != expected_agg:
        run.fail("final sink differs from the batch aggregate of the same files")
    pipe.stop()
    for p in pipes[:-1]:
        p.stop()

    # the measured window starts with the first chunk after the warm ones
    t_measure = sent[WARM_CHUNKS][0]
    fresh_ms = fresh_ms[WARM_CHUNKS:]
    measured = [i for i, t in enumerate(triggers) if t["end"] > t_measure]
    window = [r for r in reads
              if r["ok"] and r["start"] >= t_measure and r["end"] <= sent[-1][1]]
    top_ms = [(r["end"] - r["start"]) * 1000.0 for r in window]
    run.attempted += len(sent) + len(reads) + 2
    layer = measure.stream_layer([triggers[i] for i in measured])
    layer.update({
        "streaming.pipeline.start_s": median(start_s),
        "stream.backlog_files_max": float(max((backlog[i] for i in measured), default=0)),
        "operators.window.top10_build_ms_p50": median(r["build"] * 1000 for r in window),
        "operators.window.top10_collect_ms_p50": median(r["collect"] * 1000 for r in window),
        "operators.window.top10_jobs": median(
            run.jobs([r["group"]])["jobs"] for r in window
        ) if run.trace else 0.0,
        "freshness_p50_ms": median(fresh_ms),
        "freshness_p90_ms": pct(fresh_ms, 90),
        "top10_p50_ms": median(top_ms),
        "top10_p90_ms": pct(top_ms, 90),
        "drain_s": drain,
        "generator.lag_ms_max": max((a - d) * 1000.0 for d, a, _ in sent),
    })
    run.note(f"live_reference: {WARM_CHUNKS} warm-up and {len(fresh_ms)} measured "
             f"chunks at {CHUNKS_PER_S}/s, {len(measured)} measured triggers, "
             f"{len(window)} top-10 reads")
    return {
        # the fixed schedule is left out: the wait of every chunk from its
        # scheduled publish until a trigger that contains it has ended
        "pass_s": sum(fresh_ms) / 1000.0,
        "layer": layer,
        "samples": {"freshness_ms": fresh_ms, "top10_ms": top_ms,
                    "trigger_ms": [t["trigger_ms"] for t in triggers]},
    }


def wait_rows(q, rows: int, timeout: float) -> None:
    """Block until the stream has processed every file now in its source
    dir, then check that its triggers read ``rows`` input rows in all. The
    wait is ``processAllAvailable``, which costs nothing while it blocks; a
    watchdog stops the stream after ``timeout`` seconds."""
    watchdog = threading.Timer(timeout, q.stop)
    watchdog.start()
    try:
        q.processAllAvailable()
    finally:
        watchdog.cancel()
    if q.exception() is not None:
        raise RuntimeError(f"stream failed: {q.exception()}")
    got = sum(t["rows"] for t in measure.data_triggers(q.recentProgress))
    if got != rows:
        raise RuntimeError(f"stream read {got} rows, not {rows}, within {timeout}s")


# ------------------------------------------------------- closed query loops


def batch_queries(run) -> dict:
    """Closed loop, one query at a time: ``fn(spark, sf)`` then ``.count()``."""

    def ready(spark, i: int) -> None:
        run.query_fns["pricing_summary"](spark, run.data_dir).count()

    return _query_loop(run, BATCH_QUERIES, ready)


def streaming_gates(run) -> dict:
    """Closed loop over stateful replay gates: each call starts, drains and
    stops its own availableNow stream and returns its sink."""
    first = datagen.stage_chunks(
        os.path.join(run.data_dir, "events.parquet"),
        os.path.join(run.work, "stage"), CHUNK_ROWS, run.seed, CHUNK_ROWS, 0,
    )[0]

    def ready(spark, i: int) -> None:
        landing = os.path.join(run.work, f"landing-{i}")
        os.makedirs(landing)
        os.link(first[0], os.path.join(landing, "c-first.parquet"))
        pipe = StreamingAggPipeline(
            spark, landing, EVENTS_SCHEMA, events_daily, query_name=f"setup_sink_{i}"
        )
        with run.span("stream:run_available_now"):
            pipe.run_available_now(timeout=120).count()
        pipe.stop()

    return _query_loop(run, GATES, ready)


def _query_loop(run, names: list[str], ready) -> dict:
    run.setup(ready)
    spark = run.spark
    # untimed warm-up passes: a query's first runs pay for class loading, code
    # generation and JIT warm-up, which later passes do not
    for _ in range(WARM_PASSES):
        for name in names:
            with run.span(f"queries:{name}:warm"):
                run.query_fns[name](spark, run.data_dir).count()
            spark.catalog.clearCache()
    rng = random.Random(run.seed)
    samples: dict[str, list[dict]] = {n: [] for n in names}
    passes: list[dict] = []
    last_df: dict = {}
    t_end = time.perf_counter() + run.seconds
    while len(passes) < MIN_PASSES or time.perf_counter() < t_end:
        order = list(names)
        rng.shuffle(order)
        before = measure.census(spark, run.tmp)
        build = action = 0.0
        groups: list[str] = []
        for name in order:
            rec = run.timed_query(name, f"q-{name}-{len(passes)}")
            if rec is None:
                continue
            samples[name].append(rec)
            last_df[name] = rec.pop("df")
            groups.extend(rec["groups"])
            build += rec["build"]
            action += rec["action"]
        after = measure.census(spark, run.tmp)
        passes.append({
            "wall": build + action, "build": build, "action": action,
            "census": {k: after[k] - before[k] for k in after},
            **(run.jobs(groups) if run.trace else {}),
        })

    # untimed: the last pass's answers against the DuckDB oracle
    for name, df in last_df.items():
        run.attempted += 1
        try:
            pdf = df.toPandas()
        except Exception as e:  # noqa: BLE001 - counted as a failed operation
            run.fail(f"{name} raised while its answer was collected: {e!r}")
            continue
        run.check_oracle(name, pdf)

    layer = {
        "queries.build_s": median(p["build"] for p in passes),
        "queries.action_s": median(p["action"] for p in passes),
    }
    for k in ("jobs", "stages", "tasks", "failed_tasks"):
        layer[f"queries.{k}"] = median(p.get(k, 0) for p in passes)
    for k in ("sink_tables", "temp_views", "tmp_entries"):
        layer[f"census.{k}_added"] = median(p["census"][k] for p in passes)
    for k in ("active_streams", "persisted_rdds"):
        layer[f"census.{k}"] = median(p["census"][k] for p in passes)
    for n in names:
        layer[f"queries.{n}.build_s"] = median(s["build"] for s in samples[n])
        layer[f"queries.{n}.action_s"] = median(s["action"] for s in samples[n])
        layer[f"queries.{n}.jobs"] = median(s["jobs"] for s in samples[n])
    layer.update(measure.stream_layer(measure.data_triggers(run.stream_progress)))
    run.note(f"{len(passes)} passes of {len(names)} queries")
    return {
        "pass_s": median(p["wall"] for p in passes),
        "layer": layer,
        "samples": {n: [[s["build"], s["action"]] for s in samples[n]] for n in names},
    }


WORKLOADS = {
    "live_reference": live_reference,
    "batch_queries": batch_queries,
    "streaming_gates": streaming_gates,
}
