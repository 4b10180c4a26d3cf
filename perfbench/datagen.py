"""Deterministic input tables for the benchmark, written with pyarrow only.

The tables have the schema the engine's queries read (the TPC-H-like star
schema plus ``events``, ``documents`` and ``embeddings``), with value ranges
and cardinalities modelled on the engine's sf fixtures. Table contents come
from a fixed content seed, so every benchmark seed sees the same rows and the
same query answers; the benchmark seed only changes how the rows are cut into
stream chunks, the arrival order of those chunks and the order of queries.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CONTENT_SEED = 42
# Bumped whenever the generated rows change, so cached tables and cached
# oracle answers from an older generator are never reused.
VERSION = 1
# rows of the live stream's events file: 180 chunks, 90 s at 2 chunks/s
STREAM_ROWS = 150_000

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PART_ADJ = ["small", "red", "blue", "hot", "large", "green", "cold", "shiny"]
_PART_NOUN = ["ring", "widget", "bolt", "gear", "spring", "valve", "pipe", "nut"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
_WORDS = (
    "a the query row stream part column order scan slow agg key window table "
    "merge vector join batch sort value hash filter big data spark line small "
    "fast group customer"
).split()


def _days(rng, start: dt.date, end: dt.date, n: int) -> np.ndarray:
    span = (end - start).days
    base = np.datetime64(start.isoformat(), "us")
    return base + rng.integers(0, span + 1, n).astype("timedelta64[D]")


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def build_tables(sf: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(CONTENT_SEED)
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1_500, int(1_500_000 * sf))
    n_li = 4 * n_ord
    n_ev = max(1_000, int(1_000_000 * sf))
    n_users = max(15, int(15_000 * sf))
    n_docs = max(50, int(50_000 * sf))
    n_vecs = max(500, int(20_000 * sf))

    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": _REGIONS,
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": [_SEGMENTS[i] for i in rng.integers(0, 5, n_cust)],
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    pk = np.arange(n_part)
    t["part"] = pa.table({
        "p_partkey": pa.array(pk, pa.int64()),
        "p_name": [
            f"{_PART_ADJ[a]} {_PART_NOUN[b]}"
            for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
        ],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": [_PART_TYPES[i] for i in rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 1),
    })
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _days(rng, dt.date(1995, 1, 1), dt.date(2001, 8, 1), n_ord),
        "o_orderpriority": [_PRIORITIES[i] for i in rng.integers(0, 5, n_ord)],
    })
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n_li)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n_li)],
        "l_shipdate": _days(rng, dt.date(1995, 1, 2), dt.date(2001, 11, 4), n_li),
    })
    t["events"] = _events(rng, n_ev, n_users)
    texts = []
    for i in range(n_docs):
        if texts and rng.random() < 0.05:
            # near-duplicate of an earlier document (the dedup queries' prey)
            words = texts[int(rng.integers(0, len(texts)))].split()
            for j in rng.integers(0, len(words), 2):
                words[j] = _WORDS[int(rng.integers(0, len(_WORDS)))]
            texts.append(" ".join(words + ["dup"]))
        else:
            n_words = int(rng.integers(10, 101))
            texts.append(" ".join(_WORDS[j] for j in rng.integers(0, len(_WORDS), n_words)))
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": [_LANGS[i] for i in rng.integers(0, len(_LANGS), n_docs)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(s) for s in texts], pa.int64()),
    })
    vecs = rng.normal(size=(n_vecs, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vecs), pa.int32()),
    })
    return t


def _events(rng, n_ev: int, n_users: int) -> pa.Table:
    """30 days of event arrivals in ts order, as the stream replays them."""
    offs = np.sort(rng.integers(0, 30 * 86_400_000_000, n_ev))
    return pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": np.datetime64("2024-01-01T00:00:00", "us") + offs.astype("timedelta64[us]"),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
        "event_type": [_EVENT_TYPES[i] for i in rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })


def ensure_stream_events(root: str) -> str:
    """Write the live stream's events once under ``root`` and return the
    file: the ``events`` table's recipe at its sf 0.05 user count, with room
    for longer runs than that table's 50k rows allow."""
    path = os.path.join(root, f"stream-events-v{VERSION}-rows{STREAM_ROWS}.parquet")
    if not os.path.isfile(path):
        os.makedirs(root, exist_ok=True)
        rng = np.random.default_rng(CONTENT_SEED + 1)
        pq.write_table(_events(rng, STREAM_ROWS, 750), f"{path}.tmp-{os.getpid()}")
        os.replace(f"{path}.tmp-{os.getpid()}", path)
    return path


def ensure_tables(root: str, sf: float) -> str:
    """Write the tables once under ``root`` and return their directory
    (``<name>.parquet`` per table, the layout the queries' ``sf_dir``
    argument expects). A finished directory is reused; a half-written one
    never is, because it only gets its final name once complete."""
    out = os.path.join(root, f"tables-v{VERSION}-sf{sf:g}")
    if os.path.isdir(out):
        return out
    tmp = f"{out}.tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, table in build_tables(sf).items():
        pq.write_table(table, os.path.join(tmp, f"{name}.parquet"))
    try:
        os.rename(tmp, out)
    except OSError:
        shutil.rmtree(tmp, ignore_errors=True)  # another run won the race
    return out


def stage_chunks(
    events_path: str, stage_dir: str, n_rows: int, seed: int,
    mean_rows: int = 830, jitter: int = 65, window: int = 3,
) -> list[tuple[str, int]]:
    """Cut the first ``n_rows`` events (in ``ts`` order) into
    ``round(n_rows / mean_rows)`` parquet chunks and return ``(path, rows)``
    in arrival order. The seed moves each boundary between chunks by up to
    ``jitter`` rows and shuffles arrival order within consecutive groups of
    ``window`` chunks; the number of chunks and the set of rows, and so every
    aggregate over them, do not depend on it."""
    rng = np.random.default_rng(seed)
    events = pq.read_table(events_path)
    if events.num_rows < n_rows:
        raise ValueError(f"{events_path} has {events.num_rows} rows, fewer than {n_rows}")
    events = events.slice(0, n_rows)
    n = max(1, round(n_rows / mean_rows))
    cuts = [0] + [
        k * n_rows // n + int(rng.integers(-jitter, jitter + 1)) for k in range(1, n)
    ] + [n_rows]
    os.makedirs(stage_dir, exist_ok=True)
    chunks = []
    for start, end in zip(cuts, cuts[1:]):
        path = os.path.join(stage_dir, f"chunk-{len(chunks):05d}.parquet")
        pq.write_table(events.slice(start, end - start), path)
        chunks.append((path, end - start))
    order = []
    for g in range(0, len(chunks), window):
        group = chunks[g:g + window]
        order.extend(group[i] for i in rng.permutation(len(group)))
    return order
