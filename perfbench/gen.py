"""Seeded input generator for the benchmark.

Pure numpy/pyarrow: the engine receives only the parquet files written
here, never the generator's objects. Every table ``oracle.duck_con`` opens
is written (DuckDB errors on a missing view file), so the TPC-H dimensions
are present but tiny. The input properties the engine's behaviour depends
on are set explicitly and measured back from the generated rows:

* ``redeliver``  share of events delivered a second time, byte-identical,
                 a little later in arrival order (at-least-once replay)
* ``late``       share of events whose event time lags the arrival clock
                 by up to ``late_s`` seconds (out-of-order arrival)
* ``zipf_s``     user-id skew: P(rank k) ~ 1/k^zipf_s over ``users`` users
* ``near_dup``   share of documents that are light edits of an earlier one
* ``span_s``     event-time span of the event stream
"""

from __future__ import annotations

import datetime as dt
from dataclasses import dataclass
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = np.array(["click", "purchase", "error", "signup", "view"])
WORDS = np.array(
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the".split()
)
LANGS = np.array(["en", "es", "de", "fr", "zh"])
LANG_P = np.array([0.44, 0.15, 0.14, 0.13, 0.14])
EPOCH_2024 = dt.datetime(2024, 1, 1)

EVENTS_SCHEMA = pa.schema(
    [
        ("event_id", pa.int64()),
        ("ts", pa.timestamp("us")),
        ("user_id", pa.int64()),
        ("event_type", pa.string()),
        ("value", pa.float64()),
        ("props", pa.string()),
    ]
)


@dataclass(frozen=True)
class EventSpec:
    n: int  # distinct events (before redelivery and NULL-id rows)
    span_s: float
    start: dt.datetime = EPOCH_2024
    redeliver: float = 0.10
    late: float = 0.15
    late_s: float = 3 * 3600.0
    null_ids: float = 0.005
    users: int = 5000
    zipf_s: float = 1.1


def events(rng: np.random.Generator, spec: EventSpec) -> pa.Table:
    """Events in ARRIVAL order (row order is the order they are staged)."""
    n = spec.n
    # arrival clock: uniform over the span, in arrival order
    arrive_us = np.sort(rng.uniform(0.0, spec.span_s, n)) * 1e6
    lag_us = np.where(
        rng.random(n) < spec.late, rng.uniform(0.0, spec.late_s, n) * 1e6, 0.0
    )
    start_us = int((spec.start - dt.datetime(1970, 1, 1)).total_seconds()) * 1_000_000
    ts_us = start_us + (arrive_us - lag_us).astype(np.int64)
    ranks = np.arange(1, spec.users + 1, dtype=np.float64)
    p = ranks ** -spec.zipf_s
    user_of_rank = rng.permutation(spec.users).astype(np.int64)
    user_id = user_of_rank[rng.choice(spec.users, size=n, p=p / p.sum())]
    event_type = EVENT_TYPES[rng.integers(0, len(EVENT_TYPES), n)]
    value = np.round(rng.exponential(50.0, n), 2) + 0.01
    props = np.char.add(np.char.add('{"k": ', rng.integers(0, 100, n).astype(str)), "}")
    pos = np.arange(n, dtype=np.float64)

    # redelivery: byte-identical copies, re-sent a little later
    dup = np.flatnonzero(rng.random(n) < spec.redeliver)
    dup_pos = dup + rng.uniform(1.0, max(2.0, n * 0.05), dup.size)
    # identity-less rows: new rows with NULL event_id (dropped by the pipeline)
    n_null = int(round(n * spec.null_ids))
    null_src = rng.integers(0, n, n_null)
    null_pos = null_src + 0.5

    order = np.argsort(np.concatenate([pos, dup_pos, null_pos]), kind="stable")
    src = np.concatenate([np.arange(n), dup, null_src])[order]
    ids = pa.array(src, mask=np.concatenate(
        [np.zeros(n + dup.size, bool), np.ones(n_null, bool)]
    )[order])
    return pa.table(
        [
            ids,
            pa.array(ts_us[src], pa.timestamp("us")),
            pa.array(user_id[src]),
            pa.array(event_type[src]),
            pa.array(value[src]),
            pa.array(props[src]),
        ],
        schema=EVENTS_SCHEMA,
    )


def event_props(tbl: pa.Table) -> dict[str, float]:
    """Measured input properties of an arrival-ordered events table."""
    ids = tbl.column("event_id").to_numpy(zero_copy_only=False)
    valid = ~np.isnan(ids.astype(np.float64))
    n_valid = int(valid.sum())
    n_distinct = len(np.unique(ids[valid]))
    ts = tbl.column("ts").cast(pa.int64()).to_numpy()
    late = ts[1:] < np.maximum.accumulate(ts)[:-1]
    _, counts = np.unique(tbl.column("user_id").to_numpy(), return_counts=True)
    top = np.sort(counts)[::-1][: max(1, len(counts) // 100)]
    return {
        "rows": float(tbl.num_rows),
        "redelivered_share": (n_valid - n_distinct) / max(1, n_valid),
        "null_id_share": (tbl.num_rows - n_valid) / max(1, tbl.num_rows),
        "out_of_order_share": float(late.mean()) if late.size else 0.0,
        "top1pct_user_share": float(top.sum() / counts.sum()),
        "span_days": float((ts.max() - ts.min()) / 86_400e6),
    }


def _shingles(words: list[str]) -> set[str]:
    return {" ".join(words[i : i + 3]) for i in range(len(words) - 2)}


def documents(rng: np.random.Generator, n: int, near_dup: float = 0.1) -> tuple[pa.Table, float]:
    """Word-soup documents; a ``near_dup`` share are light edits of an
    earlier document. Returns the table and the measured near-dup share:
    documents whose word-3-shingle Jaccard with their source is >= 0.5."""
    texts: list[list[str]] = []
    near = 0
    for i in range(n):
        if i > 0 and rng.random() < near_dup:
            parent = texts[int(rng.integers(0, i))]
            words = list(parent)
            for j in np.flatnonzero(rng.random(len(words)) < 0.04):
                words[j] = str(WORDS[rng.integers(0, len(WORDS))])
            a, b = _shingles(parent), _shingles(words)
            near += len(a & b) >= 0.5 * len(a | b)
        else:
            words = [str(w) for w in WORDS[rng.integers(0, len(WORDS), int(rng.integers(10, 80)))]]
        texts.append(words)
    text = [" ".join(w) for w in texts]
    tbl = pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(text),
            "lang": pa.array(LANGS[rng.choice(len(LANGS), n, p=LANG_P)]),
            "source": pa.array([f"src{int(k)}" for k in rng.integers(0, 20, n)]),
            "n_chars": pa.array(np.array([len(s) for s in text], dtype=np.int64)),
        }
    )
    return tbl, near / max(1, n)


def embeddings(rng: np.random.Generator, n: int, labels: int = 10) -> pa.Table:
    """Unit-norm float32 vectors clustered around one centroid per label."""
    cent = rng.normal(size=(labels, 64))
    label = rng.integers(0, labels, n).astype(np.int32)
    v = cent[label] + rng.normal(scale=0.8, size=(n, 64))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.array(list(v), pa.list_(pa.float32())),
            "label": pa.array(label),
        }
    )


def tpch_dims(rng: np.random.Generator) -> dict[str, pa.Table]:
    """Tiny TPC-H tables with the fixture schemas; no benchmarked query
    reads them, but the DuckDB oracle connection opens every table."""
    i32, i64, f64 = pa.int32(), pa.int64(), pa.float64()
    day = np.datetime64("2024-01-01", "us") + rng.integers(0, 365, 40).astype("timedelta64[D]")
    return {
        "region": pa.table({"r_regionkey": pa.array(np.arange(5), i32),
                            "r_name": [f"R{i}" for i in range(5)]}),
        "nation": pa.table({"n_nationkey": pa.array(np.arange(25), i32),
                            "n_name": [f"N{i}" for i in range(25)],
                            "n_regionkey": pa.array(np.arange(25) % 5, i32)}),
        "customer": pa.table({"c_custkey": pa.array(np.arange(10), i64),
                              "c_name": [f"C{i}" for i in range(10)],
                              "c_nationkey": pa.array(np.arange(10) % 25, i32),
                              "c_acctbal": pa.array(np.round(rng.uniform(0, 1e4, 10), 2), f64),
                              "c_mktsegment": ["BUILDING"] * 10}),
        "supplier": pa.table({"s_suppkey": pa.array(np.arange(5), i64),
                              "s_name": [f"S{i}" for i in range(5)],
                              "s_nationkey": pa.array(np.arange(5), i32),
                              "s_acctbal": pa.array(np.round(rng.uniform(0, 1e4, 5), 2), f64)}),
        "part": pa.table({"p_partkey": pa.array(np.arange(10), i64),
                          "p_name": [f"P{i}" for i in range(10)],
                          "p_brand": ["Brand#1"] * 10, "p_type": ["STEEL"] * 10,
                          "p_size": pa.array(np.arange(10), i32),
                          "p_retailprice": pa.array(np.round(rng.uniform(1, 100, 10), 2), f64)}),
        "orders": pa.table({"o_orderkey": pa.array(np.arange(20), i64),
                            "o_custkey": pa.array(np.arange(20) % 10, i64),
                            "o_orderstatus": ["O"] * 20,
                            "o_totalprice": pa.array(np.round(rng.uniform(1, 1e3, 20), 2), f64),
                            "o_orderdate": pa.array(day[:20]),
                            "o_orderpriority": ["1-URGENT"] * 20}),
        "lineitem": pa.table({"l_orderkey": pa.array(np.arange(40) % 20, i64),
                              "l_partkey": pa.array(np.arange(40) % 10, i64),
                              "l_suppkey": pa.array(np.arange(40) % 5, i64),
                              "l_linenumber": pa.array(np.arange(40) // 20, i32),
                              "l_quantity": pa.array(rng.integers(1, 50, 40).astype(float), f64),
                              "l_extendedprice": pa.array(np.round(rng.uniform(1, 1e3, 40), 2), f64),
                              "l_discount": pa.array(np.round(rng.uniform(0, 0.1, 40), 2), f64),
                              "l_tax": pa.array(np.round(rng.uniform(0, 0.08, 40), 2), f64),
                              "l_returnflag": ["N"] * 40, "l_linestatus": ["O"] * 40,
                              "l_shipdate": pa.array(day)}),
    }


def write_tables(sf_dir: Path, tables: dict[str, pa.Table]) -> None:
    """One parquet file per table, ``<sf_dir>/<name>.parquet``."""
    sf_dir.mkdir(parents=True, exist_ok=True)
    for name, tbl in tables.items():
        pq.write_table(tbl, sf_dir / f"{name}.parquet")


def split(tbl: pa.Table, parts: int) -> list[pa.Table]:
    """Cut an arrival-ordered table into ``parts`` consecutive arrivals."""
    bounds = np.linspace(0, tbl.num_rows, parts + 1).astype(int)
    return [tbl.slice(a, b - a) for a, b in zip(bounds[:-1], bounds[1:])]
