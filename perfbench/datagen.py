"""Seeded input generation for the benchmark.

Everything the engine reads in a run is produced here from ``--seed``:
the batch tables of ``batch_mix`` (the TPC-H-like star schema plus the
``events``/``documents``/``embeddings`` side tables, with the column
names and types the engine's fixtures use), the ingest chunks of
``ingest_ledgered`` and the replay backlog of ``windows_replay``.  The
engine only ever sees the written parquet files.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: 2024-01-01T00:00:00Z in microseconds: the events epoch of the fixtures.
EVENTS_T0_US = 1_704_067_200_000_000
EVENT_TYPES = np.array(["click", "view", "purchase", "signup", "error"])

_SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
_PTYPES = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
_ADJ = ["blue", "hot", "large", "small", "red", "green", "tiny", "cold"]
_NOUN = ["anvil", "bolt", "ring", "widget", "gear", "nut", "spring", "valve"]
_LANGS = np.array(["en", "de", "es", "fr", "zh"])
_VOCAB = np.array(
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window".split()
)
_DAY_US = 86_400_000_000
_D1995_US = 788_918_400_000_000  # 1995-01-01


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    """Exact two-decimal doubles (the engine sums them in DECIMAL space)."""
    return rng.integers(int(lo * 100), int(hi * 100), n) / 100.0


def _days(rng: np.random.Generator, lo_day: int, hi_day: int, n: int) -> pa.Array:
    days = rng.integers(lo_day, hi_day, n).astype(np.int64)
    return pa.array(_D1995_US + days * _DAY_US, pa.timestamp("us"))


def event_rows(
    rng: np.random.Generator, event_ids: np.ndarray, ts_us: np.ndarray, n_users: int
) -> dict[str, object]:
    """Column dict of ``events`` rows for the given ids and timestamps."""
    n = len(event_ids)
    return {
        "event_id": event_ids.astype(np.int64),
        "ts": pa.array(ts_us.astype(np.int64), pa.timestamp("us")),
        "user_id": rng.integers(0, n_users, n).astype(np.int64),
        "event_type": pa.array(EVENT_TYPES[rng.integers(0, 5, n)]),
        "value": np.round(rng.gamma(2.0, 40.0, n), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    }


def unique_sorted_ts(rng: np.random.Generator, n: int, span_us: int) -> np.ndarray:
    """``n`` strictly increasing microsecond offsets in ``[0, span_us)``."""
    ts = np.sort(rng.integers(0, span_us - n, n))
    return ts + np.arange(n)  # strictly increasing: no cross-row ties


def _documents(rng: np.random.Generator, n: int) -> tuple[pa.Table, int]:
    """Random-word documents with planted exact and near duplicates.

    Returns the table and the number of rows ``dedup_minhash`` must
    report: one row per planted near-duplicate pair (its last word
    substituted in an 80+ word text: 3-shingle Jaccard >= 0.97, so the
    4x4 LSH bands miss it with odds below 1e-4) plus one self row per
    planted exact-duplicate pair.
    Random texts over a 30-word vocabulary share almost no 3-shingles.
    """
    lens = rng.integers(10, 101, n)
    texts = [" ".join(_VOCAB[rng.integers(0, len(_VOCAB), k)]) for k in lens]
    n_pairs = max(2, n // 100)
    long_docs = [i for i in range(n) if lens[i] >= 80]
    picks = rng.choice(len(long_docs), size=4 * n_pairs, replace=False)
    srcs = [long_docs[p] for p in picks[: 2 * n_pairs]]
    dsts = [long_docs[p] for p in picks[2 * n_pairs :]]
    for j, (s, d) in enumerate(zip(srcs, dsts)):
        words = texts[s].split(" ")
        if j % 2 == 0:  # near duplicate: the last word becomes "dup"
            words[-1] = "dup"
        texts[d] = " ".join(words)
    doc_id = np.arange(n, dtype=np.int64)
    tbl = pa.table(
        {
            "doc_id": doc_id,
            "text": pa.array(texts),
            "lang": pa.array(_LANGS[rng.choice(5, n, p=[0.4, 0.15, 0.15, 0.15, 0.15])]),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )
    return tbl, 2 * n_pairs


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    labels = rng.integers(0, 10, n).astype(np.int32)
    centroids = rng.normal(size=(10, dim))
    x = centroids[labels] * 0.3 + rng.normal(size=(n, dim))
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    flat = pa.array(x.astype(np.float32).ravel())
    emb = pa.ListArray.from_arrays(pa.array(np.arange(0, n * dim + 1, dim, dtype=np.int32)), flat)
    return pa.table({"vec_id": np.arange(n, dtype=np.int64), "embedding": emb, "label": labels})


def write_tables(out_dir: str, seed: int, scale: float) -> dict[str, int]:
    """Write the ten batch tables at ``scale`` (1.0 ~ TPC-H sf1 row counts).

    Returns per-table row counts plus ``minhash_pairs``, the planted
    ``dedup_minhash`` row count."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust = int(150_000 * scale)
    n_supp = max(25, int(10_000 * scale))
    n_part = int(200_000 * scale)
    n_ord = int(1_500_000 * scale)
    n_line = int(6_000_000 * scale)
    n_evt = int(1_000_000 * scale)
    n_doc = int(50_000 * scale)
    n_vec = int(50_000 * scale)
    n_users = max(100, int(15_000 * scale))

    tables: dict[str, pa.Table] = {}
    tables["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": _REGIONS}
    )
    tables["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    tables["customer"] = pa.table(
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": pa.array(_SEGMENTS[rng.integers(0, 5, n_cust)]),
        }
    )
    tables["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    pkeys = np.arange(n_part, dtype=np.int64)
    tables["part"] = pa.table(
        {
            "p_partkey": pkeys,
            "p_name": [f"{_ADJ[a]} {_NOUN[b]}" for a, b in rng.integers(0, 8, (n_part, 2))],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": pa.array(_PTYPES[rng.integers(0, 6, n_part)]),
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": np.round(900.0 + (pkeys % 1000) / 10.0, 2),
        }
    )
    tables["orders"] = pa.table(
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
            "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)]),
            "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
            "o_orderdate": _days(rng, 0, 2404, n_ord),
            "o_orderpriority": pa.array(_PRIORITIES[rng.integers(0, 5, n_ord)]),
        }
    )
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    tables["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
            "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
            "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * _money(rng, 900.0, 2100.0, n_line), 2),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)]),
            "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n_line)]),
            "l_shipdate": _days(rng, 1, 2499, n_line),
        }
    )
    ids = np.arange(n_evt, dtype=np.int64)
    ts = EVENTS_T0_US + unique_sorted_ts(rng, n_evt, 30 * _DAY_US)
    tables["events"] = pa.table(event_rows(rng, ids, ts, n_users))
    tables["documents"], minhash_pairs = _documents(rng, n_doc)
    tables["embeddings"] = _embeddings(rng, n_vec)

    counts = {}
    for name, tbl in tables.items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = tbl.num_rows
    counts["minhash_pairs"] = minhash_pairs
    return counts


class IngestChunks:
    """Range-chunked ``events`` for the open-loop ingest generator.

    Chunk ``i`` holds the contiguous ids ``[id_base + i*rows, ...)``: a
    pre-generated cycle of ``cycle`` chunk bodies is replayed with ids and
    timestamps shifted on every cycle, so offsets keep growing.  The seed
    picks the row contents, ``id_base`` and each chunk's send jitter."""

    def __init__(self, seed: int, rows: int, interval_s: float, cycle: int = 64):
        rng = np.random.default_rng(seed)
        self.rows = rows
        self.id_base = int(rng.integers(1_000, 1_000_000)) * rows
        self.span_us = int(interval_s * 1e6)
        rel_ids = np.arange(rows, dtype=np.int64)
        self._bodies = [
            pa.table(event_rows(rng, rel_ids, unique_sorted_ts(rng, rows, self.span_us), 1500))
            for _ in range(cycle)
        ]
        # Up to a fifth of an interval late, never reordering sends.
        self.jitter_s = rng.uniform(0.0, 0.2 * interval_s, 1 << 16)

    def first_id(self, i: int) -> int:
        return self.id_base + i * self.rows

    def chunk(self, i: int) -> pa.Table:
        body = self._bodies[i % len(self._bodies)]
        ids = pa.array(body["event_id"].to_numpy() + self.first_id(i))
        ts0 = EVENTS_T0_US + i * self.span_us
        ts = pa.array(body["ts"].cast(pa.int64()).to_numpy() + ts0, pa.timestamp("us"))
        return body.set_column(0, "event_id", ids).set_column(1, "ts", ts)


def replay_backlog(
    seed: int, n_chunks: int, rows: int, span_us: int, dup_frac: float, late_frac: float
) -> tuple[list[pa.Table], pa.Table]:
    """A ts-ordered backlog of ``n_chunks`` chunk tables for the replay.

    A seeded ``late_frac`` of rows is delivered one chunk late (out of
    order, but less than one chunk span behind, so within a watermark
    of two spans) and a seeded ``dup_frac`` of rows is retransmitted in
    its own or the next chunk.  Returns the chunks and the distinct rows
    they carry (the batch twin's input)."""
    rng = np.random.default_rng(seed)
    n = n_chunks * rows
    ts = EVENTS_T0_US + unique_sorted_ts(rng, n, n_chunks * span_us)
    distinct = pa.table(event_rows(rng, np.arange(n, dtype=np.int64), ts, 1500))
    home = np.arange(n) // rows
    late = (rng.random(n) < late_frac) & (home < n_chunks - 1)
    arrive = home + late
    dups = np.flatnonzero(rng.random(n) < dup_frac)
    dup_arrive = np.minimum(arrive[dups] + rng.integers(0, 2, len(dups)), n_chunks - 1)
    rows_idx = np.concatenate([np.arange(n), dups])
    chunk_of = np.concatenate([arrive, dup_arrive])
    order = np.lexsort((rows_idx, chunk_of))
    rows_idx, chunk_of = rows_idx[order], chunk_of[order]
    bounds = np.searchsorted(chunk_of, np.arange(n_chunks + 1))
    chunks = [distinct.take(rows_idx[bounds[c] : bounds[c + 1]]) for c in range(n_chunks)]
    return chunks, distinct
