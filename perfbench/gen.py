"""Seeded input generator for the benchmark (numpy + pyarrow, no Spark).

The program under test only ever sees the parquet files written here, so a
change to the engine's own ``sources`` module cannot shift the inputs. The
same seed gives byte-identical files: every random draw comes from one
``numpy.random.Generator`` per table, the parquet writer settings are fixed,
and file modification times are set explicitly (the streaming file source
orders files by mtime).
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ("click", "view", "purchase", "signup", "error")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
VOCAB = (
    "a the join hash row batch scan column customer filter small slow merge "
    "order vector line table data agg value key stream window spark part "
    "group big sort query fast"
).split()
LANGS = ("en", "zh", "es", "de", "fr")
LANG_P = (0.44, 0.15, 0.14, 0.14, 0.13)
EPOCH_US = np.datetime64("1970-01-01T00:00:00", "us")
STREAM_T0_US = int((np.datetime64("2024-03-01T00:00:00", "us") - EPOCH_US).astype(np.int64))
DAY_US = 86_400_000_000
MTIME_BASE = 1_700_000_000


def write_table(table: pa.Table, path: str, mtime: int | None = None) -> None:
    pq.write_table(
        table,
        path,
        compression="snappy",
        row_group_size=1 << 20,
        write_statistics=True,
        use_dictionary=True,
    )
    if mtime is not None:
        os.utime(path, (mtime, mtime))


def _ts(us: np.ndarray, tz: str | None = None) -> pa.Array:
    """Microsecond timestamps; ``tz="UTC"`` marks them instants (Spark
    reads those as TIMESTAMP, which a watermark needs, where naive ones
    read as TIMESTAMP_NTZ)."""
    return pa.array(us.astype(np.int64), type=pa.int64()).cast(pa.timestamp("us", tz=tz))


def _money(rng: np.random.Generator, n: int, scale: float) -> np.ndarray:
    """Two-decimal amounts, so decimal(18,4) sums are exact on every engine."""
    return np.round(rng.lognormal(np.log(scale), 0.9, n), 2)


def customer_table(seed: int, n: int) -> pa.Table:
    rng = np.random.default_rng([seed, 1])
    keys = np.arange(n, dtype=np.int64)
    return pa.table(
        {
            "c_custkey": keys,
            "c_name": pa.array([f"Customer#{k:09d}" for k in keys]),
            "c_nationkey": rng.integers(0, 25, n).astype(np.int32),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n), 2),
            "c_mktsegment": pa.array(np.asarray(SEGMENTS)[rng.integers(0, len(SEGMENTS), n)]),
        }
    )


# ---------------------------------------------------------------------------
# stream_replay: a dirty, time-ordered event stream landed as parquet files
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class StreamSpec:
    n_files: int = 12
    file_span_s: int = 60  # event time covered by one file
    rate: float = 12.0  # events per second of event time
    n_customers: int = 15_000
    dup_frac: float = 0.05
    null_type_frac: float = 1 / 6
    null_value_frac: float = 0.10
    unmatched_frac: float = 0.05
    jitter_s: float = 8.0  # in-watermark out-of-order spread
    late_frac: float = 0.005  # planted far behind the watermark
    late_behind_s: int = 600


def _messy(rng: np.random.Generator, types: np.ndarray) -> list:
    """The producer's casing/whitespace dirt, plus a null share."""
    out = []
    style = rng.integers(0, 4, len(types))
    for t, s in zip(types, style):
        if s == 1:
            t = t.upper()
        elif s == 2:
            t = t.capitalize()
        elif s == 3:
            t = f" {t} "
        out.append(t)
    return out


def stream_files(seed: int, out_dir: str, spec: StreamSpec) -> list[str]:
    """Write ``spec.n_files`` time-ordered event files; returns their paths.

    File k covers event time [k*span, (k+1)*span) with jitter well inside
    the 30 s watermark, exact duplicates (5%) kept in the same file, and a
    small planted share of events placed ``late_behind_s`` behind the file
    start — far behind any watermark the stream can hold by then, so they
    are dropped whatever the micro-batch boundaries are.
    """
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 2])
    span_us = spec.file_span_s * 1_000_000
    n_base = int(spec.rate * spec.file_span_s)
    next_id = 0
    paths = []
    for k in range(spec.n_files):
        start = STREAM_T0_US + k * span_us
        ts = np.sort(rng.integers(start, start + span_us, n_base))
        ts = ts + rng.integers(-int(spec.jitter_s * 1e6), int(spec.jitter_s * 1e6), n_base)
        if k == 0:
            ts = np.maximum(ts, STREAM_T0_US)
        n_late = int(round(n_base * spec.late_frac)) if k >= 2 else 0
        late = start - spec.late_behind_s * 1_000_000 - rng.integers(0, 60_000_000, n_late)
        ts = np.concatenate([ts, late])
        n = len(ts)
        ids = np.arange(next_id, next_id + n, dtype=np.int64)
        next_id += n
        users = rng.integers(0, spec.n_customers, n)
        unmatched = rng.random(n) < spec.unmatched_frac
        users[unmatched] = spec.n_customers + rng.integers(0, 1000, int(unmatched.sum()))
        types = _messy(rng, np.asarray(EVENT_TYPES)[rng.integers(0, 5, n)])
        for i in np.flatnonzero(rng.random(n) < spec.null_type_frac):
            types[i] = None
        value = _money(rng, n, 30.0)
        value_null = rng.random(n) < spec.null_value_frac
        props = [f'{{"k": {v}}}' for v in rng.integers(0, 100, n)]
        # exact duplicates of non-late rows, interleaved in the same file
        dup_src = rng.choice(n_base, int(round(n_base * spec.dup_frac)), replace=False)
        order = np.concatenate([np.arange(n), dup_src])
        rng.shuffle(order)
        table = pa.table(
            {
                "event_id": ids[order],
                "ts": _ts(ts[order], tz="UTC"),
                "user_id": users[order].astype(np.int64),
                "event_type": pa.array([types[i] for i in order], type=pa.string()),
                "value": pa.array(value[order], mask=value_null[order]),
                "props": pa.array([props[i] for i in order]),
            }
        )
        path = os.path.join(out_dir, f"part-{k:05d}.parquet")
        write_table(table, path, mtime=MTIME_BASE + k)
        paths.append(path)
    return paths


# ---------------------------------------------------------------------------
# batch_mix, jobs daily: a multi-month events table plus the customer dim
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class DailySpec:
    first_day: str = "2024-01-01"
    n_days: int = 90
    events_per_day: int = 3300
    n_customers: int = 15_000
    unmatched_frac: float = 0.05


def daily_tables(seed: int, sf_dir: str, spec: DailySpec) -> tuple[list[str], dict[str, int]]:
    """Write ``events.parquet`` + ``customer.parquet``; returns the run dates
    and the number of events on each."""
    os.makedirs(sf_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 3])
    day0 = int((np.datetime64(spec.first_day, "us") - EPOCH_US).astype(np.int64))
    n = spec.n_days * spec.events_per_day
    ts = np.sort(rng.integers(day0, day0 + spec.n_days * DAY_US, n))
    users = rng.integers(0, spec.n_customers, n)
    unmatched = rng.random(n) < spec.unmatched_frac
    users[unmatched] = spec.n_customers + rng.integers(0, 1000, int(unmatched.sum()))
    events = pa.table(
        {
            "event_id": np.arange(n, dtype=np.int64),
            "ts": _ts(ts),
            "user_id": users.astype(np.int64),
            "event_type": pa.array(np.asarray(EVENT_TYPES)[rng.integers(0, 5, n)]),
            "value": _money(rng, n, 30.0),
            "props": pa.array([f'{{"k": {v}}}' for v in rng.integers(0, 100, n)]),
        }
    )
    # one row group per ~day, so the day filter prunes row groups
    pq.write_table(
        events,
        os.path.join(sf_dir, "events.parquet"),
        compression="snappy",
        row_group_size=spec.events_per_day,
    )
    write_table(customer_table(seed, spec.n_customers), os.path.join(sf_dir, "customer.parquet"))
    dates = [str(d) for d in np.datetime64(spec.first_day, "D") + np.arange(spec.n_days)]
    per_day = np.bincount((ts - day0) // DAY_US, minlength=spec.n_days)
    return dates, {d: int(c) for d, c in zip(dates, per_day)}


# ---------------------------------------------------------------------------
# batch_mix, lanes: the star schema + corpus tables the registered lanes read
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class MixSpec:
    sf: float = 0.01
    n_embeddings: int = 500
    emb_dim: int = 64
    n_labels: int = 10
    near_dup_frac: float = 0.05


def mix_tables(seed: int, sf_dir: str, spec: MixSpec) -> None:
    os.makedirs(sf_dir, exist_ok=True)
    n_cust = int(150_000 * spec.sf)
    n_orders = int(1_500_000 * spec.sf)
    n_lines = int(6_000_000 * spec.sf)
    n_events = int(1_000_000 * spec.sf)
    n_docs = int(50_000 * spec.sf)
    write_table(customer_table(seed, n_cust), os.path.join(sf_dir, "customer.parquet"))

    rng = np.random.default_rng([seed, 4])
    d0 = int((np.datetime64("1995-01-01", "us") - EPOCH_US).astype(np.int64))
    orders = pa.table(
        {
            "o_orderkey": np.arange(n_orders, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_orders).astype(np.int64),
            "o_orderstatus": pa.array(np.asarray(["O", "F", "P"])[rng.integers(0, 3, n_orders)]),
            "o_totalprice": np.round(rng.uniform(1000, 500_000, n_orders), 2),
            "o_orderdate": _ts(d0 + rng.integers(0, 2400, n_orders) * DAY_US),
            "o_orderpriority": pa.array(
                np.asarray(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])[
                    rng.integers(0, 5, n_orders)
                ]
            ),
        }
    )
    write_table(orders, os.path.join(sf_dir, "orders.parquet"))
    lineitem = pa.table(
        {
            "l_orderkey": rng.integers(0, n_orders, n_lines).astype(np.int64),
            "l_partkey": rng.integers(0, int(200_000 * spec.sf), n_lines).astype(np.int64),
            "l_suppkey": rng.integers(0, int(10_000 * spec.sf), n_lines).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, n_lines).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n_lines).astype(np.float64),
            "l_extendedprice": np.round(rng.uniform(900, 105_000, n_lines), 2),
            "l_discount": rng.integers(0, 11, n_lines) / 100.0,
            "l_tax": rng.integers(0, 9, n_lines) / 100.0,
            "l_returnflag": pa.array(np.asarray(["N", "A", "R"])[rng.integers(0, 3, n_lines)]),
            "l_linestatus": pa.array(np.asarray(["O", "F"])[rng.integers(0, 2, n_lines)]),
            "l_shipdate": _ts(d0 + rng.integers(0, 2400, n_lines) * DAY_US),
        }
    )
    write_table(lineitem, os.path.join(sf_dir, "lineitem.parquet"))

    e0 = int((np.datetime64("2024-01-01", "us") - EPOCH_US).astype(np.int64))
    ts = np.sort(rng.integers(e0, e0 + 30 * DAY_US, n_events))
    events = pa.table(
        {
            "event_id": np.arange(n_events, dtype=np.int64),
            "ts": _ts(ts),
            "user_id": rng.integers(0, max(n_cust // 10, 1), n_events).astype(np.int64),
            "event_type": pa.array(np.asarray(EVENT_TYPES)[rng.integers(0, 5, n_events)]),
            "value": _money(rng, n_events, 35.0),
            "props": pa.array([f'{{"k": {v}}}' for v in rng.integers(0, 100, n_events)]),
        }
    )
    write_table(events, os.path.join(sf_dir, "events.parquet"))

    texts = []
    vocab = np.asarray(VOCAB)
    for i in range(n_docs):
        if i > 10 and rng.random() < spec.near_dup_frac:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), int(rng.integers(10, 100)))]))
    docs = pa.table(
        {
            "doc_id": np.arange(n_docs, dtype=np.int64),
            "text": pa.array(texts),
            "lang": pa.array(np.asarray(LANGS)[rng.choice(len(LANGS), n_docs, p=LANG_P)]),
            "source": pa.array([f"src{i % 20}" for i in range(n_docs)]),
            "n_chars": np.asarray([len(t) for t in texts], dtype=np.int64),
        }
    )
    write_table(docs, os.path.join(sf_dir, "documents.parquet"))

    centers = rng.normal(0, 1, (spec.n_labels, spec.emb_dim))
    labels = rng.integers(0, spec.n_labels, spec.n_embeddings)
    vecs = centers[labels] + rng.normal(0, 0.8, (spec.n_embeddings, spec.emb_dim))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.table(
        {
            "vec_id": np.arange(spec.n_embeddings, dtype=np.int64),
            "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
            "label": labels.astype(np.int32),
        }
    )
    write_table(emb, os.path.join(sf_dir, "embeddings.parquet"))
