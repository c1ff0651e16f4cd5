"""Seeded input generators for the product-path benchmark.

Everything the engine reads is produced here from one ``--seed`` and
written as plain parquet before any timing starts; the engine sees only
those files. Shapes follow the repo's fixture schemas (FIXTURES.md) so
the registry keys and their DuckDB oracles run unchanged.

- ``events``: monotone event time (exponential inter-arrival) over a
  fixed span. Lateness comes from the replay schedule, not from the
  rows: the source seam's ``late_chunk`` replay delivers the oldest
  chunk last, after the chunks that share its final hour were written.
- ``documents``: uniform draw over a 10k-word vocabulary (the repo's
  "realistic vocabulary": random pairs are dissimilar, so LSH banding
  prunes) with a planted tail of exact and one-token near duplicates.
  The 31-word fixture vocabulary is avoided on purpose: it makes the
  near-duplicate graph quadratic by construction.
- TPC-H-ish ``region/nation/customer/orders/lineitem`` and unit-norm
  ``embeddings`` for the registry keys in the ``query`` mix.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
EVENTS_T0_US = int(np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64))
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
RETURNFLAGS = ["A", "N", "R"]
LINESTATUS = ["O", "F"]
ORDERSTATUS = ["O", "F", "P"]
VOCAB = np.array([f"w{i:05d}" for i in range(10_000)])


@dataclass
class Written:
    """What a generator put on disk: rows and bytes per table, plus the
    planted duplicate pairs a dedup check needs."""

    rows: dict = field(default_factory=dict)
    bytes: dict = field(default_factory=dict)
    exact_pairs: list = field(default_factory=list)
    near_pairs: list = field(default_factory=list)

    @property
    def total_rows(self) -> int:
        return sum(self.rows.values())

    @property
    def total_bytes(self) -> int:
        return sum(self.bytes.values())


def _write(out: str, name: str, table: pa.Table, w: Written, row_group: int | None = None) -> None:
    path = os.path.join(out, f"{name}.parquet")
    pq.write_table(table, path, row_group_size=row_group)
    w.rows[name] = table.num_rows
    w.bytes[name] = os.path.getsize(path)


def events(rng: np.random.Generator, n: int, hours: int, n_users: int) -> pa.Table:
    gaps = rng.exponential(1.0, n)
    ts = EVENTS_T0_US + np.floor(np.cumsum(gaps) / gaps.sum() * (hours * 3600e6 - 1)).astype(np.int64)
    return pa.table({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": ts.astype("datetime64[us]"),
        "user_id": rng.integers(0, n_users, n).astype(np.int64),
        "event_type": rng.choice(EVENT_TYPES, n),
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": np.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })


def hourly_counts(ev: pa.Table) -> dict[tuple[str, int], int]:
    """Generator-side truth for the ingest check: events per (dt, hr)."""
    us = ev.column("ts").cast(pa.int64()).to_numpy()
    hour = us // 3_600_000_000
    keys, counts = np.unique(hour, return_counts=True)
    out = {}
    for h, c in zip(keys, counts):
        t = np.datetime64(int(h), "h")
        out[(str(t.astype("datetime64[D]")).replace("-", ""), int(h % 24))] = int(c)
    return out


def documents(
    rng: np.random.Generator, n: int, exact_share: float, near_share: float, w: Written
) -> pa.Table:
    """Uniform 10k-word documents with planted duplicates copied from a
    head pool (the first 10%), recorded as ``(source, copy)`` pairs."""
    lens = rng.integers(8, 101, n)
    words = rng.choice(VOCAB, int(lens.sum()))
    offs = np.concatenate(([0], np.cumsum(lens)))
    texts = [" ".join(words[offs[i]:offs[i + 1]]) for i in range(n)]
    head = max(1, n // 10)
    tail = rng.permutation(np.arange(head, n))
    n_exact = max(1, int(exact_share * n))
    n_near = max(1, int(near_share * n))
    for i in tail[:n_exact]:
        src = int(rng.integers(0, head))
        texts[i] = texts[src]
        w.exact_pairs.append((src, int(i)))
    for i in tail[n_exact:n_exact + n_near]:
        src = int(rng.integers(0, head))
        toks = texts[src].split()
        toks[int(rng.integers(0, len(toks)))] = str(rng.choice(VOCAB))
        texts[i] = " ".join(toks)
        w.near_pairs.append((src, int(i)))
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(["en", "es", "zh", "de", "fr"], n),
        "source": np.array([f"src{s}" for s in rng.integers(0, 20, n)]),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def tpch(rng: np.random.Generator, n_orders: int, out: str, w: Written) -> None:
    n_cust = max(10, n_orders // 10)
    _write(out, "region", pa.table({
        "r_regionkey": np.arange(5, dtype=np.int32),
        "r_name": REGIONS,
    }), w)
    _write(out, "nation", pa.table({
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION{i:02d}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32),
    }), w)
    ck = np.arange(n_cust, dtype=np.int64)
    _write(out, "customer", pa.table({
        "c_custkey": ck,
        "c_name": [f"Customer#{i:09d}" for i in ck],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-1000, 10_000, n_cust), 2),
        "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "MACHINERY"], n_cust),
    }), w)
    ok = np.arange(n_orders, dtype=np.int64)
    odate = np.datetime64("1995-01-01", "ms") + rng.integers(0, 2400, n_orders) * np.timedelta64(1, "D")
    _write(out, "orders", pa.table({
        "o_orderkey": ok,
        "o_custkey": rng.integers(0, n_cust, n_orders).astype(np.int64),
        "o_orderstatus": rng.choice(ORDERSTATUS, n_orders),
        "o_totalprice": np.round(rng.uniform(1000, 500_000, n_orders), 2),
        "o_orderdate": odate.astype("datetime64[ms]"),
        "o_orderpriority": rng.choice(["1-URGENT", "3-MEDIUM", "5-LOW"], n_orders),
    }), w)
    nlines = 1 + rng.poisson(3.0, n_orders)
    n_li = int(nlines.sum())
    li_order = np.repeat(ok, nlines)
    linenumber = np.arange(n_li) - np.repeat(np.cumsum(nlines) - nlines, nlines) + 1
    _write(out, "lineitem", pa.table({
        "l_orderkey": li_order,
        "l_partkey": rng.integers(0, 2000, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, 100, n_li).astype(np.int64),
        "l_linenumber": linenumber.astype(np.int32),
        "l_quantity": np.floor(rng.uniform(1, 51, n_li)),
        "l_extendedprice": np.round(rng.uniform(900, 105_000, n_li), 2),
        "l_discount": np.round(rng.integers(0, 11, n_li) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) / 100.0, 2),
        "l_returnflag": rng.choice(RETURNFLAGS, n_li),
        "l_linestatus": rng.choice(LINESTATUS, n_li),
        "l_shipdate": (np.repeat(odate, nlines) + rng.integers(1, 96, n_li) * np.timedelta64(1, "D")).astype("datetime64[ms]"),
    }), w)


def embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    vecs = rng.normal(size=(n, 64)).astype(np.float32)
    dup = rng.choice(np.arange(n // 10, n), max(1, n // 20), replace=False)
    vecs[dup] = vecs[rng.integers(0, n // 10, dup.size)] + rng.normal(scale=0.01, size=(dup.size, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.FixedSizeListArray.from_arrays(pa.array(vecs.ravel(), type=pa.float32()), 64).cast(pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n).astype(np.int32),
    })


def write_events(out: str, seed: int, n: int, hours: int, n_users: int) -> tuple[Written, pa.Table]:
    os.makedirs(out, exist_ok=True)
    w = Written()
    ev = events(np.random.default_rng([seed, 1]), n, hours, n_users)
    _write(out, "events", ev, w)
    return w, ev


def write_query_inputs(out: str, seed: int, size: dict) -> tuple[Written, pa.Table]:
    """Every table the ``query`` mix reads, in one sf-style directory."""
    w, ev = write_events(out, seed, size["events"], size["hours"], size["users"])
    tpch(np.random.default_rng([seed, 2]), size["orders"], out, w)
    _write(out, "documents", documents(np.random.default_rng([seed, 3]), size["docs"], 0.01, 0.02, w), w, 1024)
    _write(out, "embeddings", embeddings(np.random.default_rng([seed, 4]), size["vectors"]), w, 1024)
    return w, ev


def write_documents(out: str, seed: int, n: int) -> Written:
    os.makedirs(out, exist_ok=True)
    w = Written()
    # small row groups so the corpus scan splits across cores, as a
    # corpus arriving in many files would
    _write(out, "documents", documents(np.random.default_rng([seed, 3]), n, 0.01, 0.02, w), w, 256)
    return w
