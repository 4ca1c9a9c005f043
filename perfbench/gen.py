"""Seeded corpus generator for the engine benchmark.

Every input the engine sees is made here from ``--seed``: the TPC-H-style
star schema plus the ``events``/``documents``/``embeddings`` extension
tables, with the value domains the models branch on (order status F/O/P,
return flag A/N/R, discounts at 0 and 0.10, planted near-duplicate
documents, clustered unit embeddings), and the ``ingest_refresh`` batch
schedule (redeliveries, late arrivals, restatements).

Pure numpy/pyarrow: no Spark, so the same seed gives byte-identical tables
whatever the engine does.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
LANG_P = [0.14, 0.44, 0.14, 0.14, 0.14]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
EMB_DIM = 64
EMB_CLUSTERS = 10
#: share of documents that are a copy of another document plus one token
DUP_SHARE = 0.05

_DAY_US = 86_400_000_000
_ORDER_EPOCH = dt.datetime(1995, 1, 1)
_EVENT_EPOCH = dt.datetime(2024, 1, 1)


def _ts(epoch: dt.datetime, offsets_us: np.ndarray) -> pa.Array:
    base = int((epoch - dt.datetime(1970, 1, 1)).total_seconds() * 1_000_000)
    return pa.array(base + offsets_us.astype(np.int64), pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def tpch_tables(rng: np.random.Generator, sf: float) -> dict[str, pa.Table]:
    n_cust = int(150_000 * sf)
    n_supp = max(10, int(10_000 * sf))
    n_part = int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": REGIONS,
        }
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": rng.choice(SEGMENTS, n_cust),
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    t["part"] = pa.table(
        {
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": [
                f"{PART_ADJ[a]} {PART_NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(PART_TYPES, n_part),
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": rng.integers(9000, 10000, n_part) / 10.0,
        }
    )
    t["orders"] = pa.table(
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
            "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
            "o_orderdate": _ts(_ORDER_EPOCH, rng.integers(0, 2404, n_ord) * _DAY_US),
            "o_orderpriority": rng.choice(PRIORITIES, n_ord),
        }
    )
    # 1 + Poisson(3) lines per order, numbered 1..k within the order
    per_order = 1 + rng.poisson(3.0, n_ord)
    okeys = np.repeat(np.arange(n_ord, dtype=np.int64), per_order)
    n_li = len(okeys)
    starts = np.repeat(np.cumsum(per_order) - per_order, per_order)
    t["lineitem"] = pa.table(
        {
            "l_orderkey": okeys,
            "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
            "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
            "l_linenumber": (np.arange(n_li) - starts + 1).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105_000.0, n_li),
            "l_discount": np.round(rng.uniform(0.0, 0.1, n_li), 2),
            "l_tax": np.round(rng.uniform(0.0, 0.08, n_li), 2),
            "l_returnflag": rng.choice(["A", "N", "R"], n_li),
            "l_linestatus": rng.choice(["F", "O"], n_li),
            "l_shipdate": _ts(
                _ORDER_EPOCH, (1 + rng.integers(0, 2499, n_li)) * _DAY_US
            ),
        }
    )
    return t


def events_table(
    rng: np.random.Generator, n: int, n_users: int, days: int = 30
) -> pa.Table:
    """Time-ordered events over ``days``; ``event_id`` follows event time."""
    offs = np.sort(rng.integers(0, days * _DAY_US, n))
    return pa.table(
        {
            "event_id": np.arange(n, dtype=np.int64),
            "ts": _ts(_EVENT_EPOCH, offs),
            "user_id": rng.integers(0, n_users, n).astype(np.int64),
            "event_type": rng.choice(EVENT_TYPES, n),
            "value": np.maximum(np.round(rng.exponential(50.0, n), 2), 0.01),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
        }
    )


def documents_table(rng: np.random.Generator, n: int) -> pa.Table:
    """Word-soup documents; ``DUP_SHARE`` of them copy another document's
    text plus a trailing ``dup`` token (the near-duplicates the dedup
    operators must find)."""
    texts = [
        " ".join(rng.choice(VOCAB, int(rng.integers(10, 100))))
        for _ in range(n)
    ]
    n_dup = int(n * DUP_SHARE)
    dups = rng.choice(n, n_dup, replace=False)
    originals = np.setdiff1d(np.arange(n), dups)
    for d in dups:
        texts[d] = texts[int(rng.choice(originals))] + " dup"
    return pa.table(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(LANGS, n, p=LANG_P),
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": np.array([len(x) for x in texts], dtype=np.int64),
        }
    )


def embeddings_table(rng: np.random.Generator, n: int) -> pa.Table:
    centroids = rng.normal(size=(EMB_CLUSTERS, EMB_DIM))
    centroids /= np.linalg.norm(centroids, axis=1, keepdims=True)
    labels = rng.integers(0, EMB_CLUSTERS, n)
    x = 0.15 * centroids[labels] + rng.normal(size=(n, EMB_DIM)) / np.sqrt(EMB_DIM)
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": pa.array(list(x), pa.list_(pa.float32())),
            "label": labels.astype(np.int32),
        }
    )


def corpus(seed: int, sf: float) -> dict[str, pa.Table]:
    """All ten source tables at scale factor ``sf`` (lineitem ~6M x sf)."""
    rng = np.random.default_rng([seed, 1])
    t = tpch_tables(rng, sf)
    t["events"] = events_table(rng, int(1_000_000 * sf), max(10, int(15_000 * sf)))
    t["documents"] = documents_table(rng, max(500, int(50_000 * sf)))
    t["embeddings"] = embeddings_table(rng, max(500, int(20_000 * sf)))
    return t


def write_corpus(tables: dict[str, pa.Table], out_dir: str) -> None:
    """One single-file parquet per table, the layout the DuckDB oracle
    reads (``<dir>/<table>.parquet``)."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


# --------------------------------------------------------------------------
# ingest_refresh batch schedule
# --------------------------------------------------------------------------

#: late arrivals lag the previous batch's newest event by at most this much,
#: inside the stream's 1-hour watermark, so the transport dedup admits them
LATE_LAG_US = 30 * 60 * 1_000_000
#: event-time span of the ingest corpus: dense enough that the last
#: ``LATE_LAG_US`` of a batch holds many events, so held-back ones really
#: arrive behind newer events the stream has already seen
INGEST_DAYS = 2


def ingest_batches(
    seed: int,
    n_batches: int,
    n_events: int,
    n_docs: int,
    redeliver_share: float = 0.05,
    late_share: float = 0.05,
    restate_share: float = 0.03,
) -> list[dict]:
    """Split a seeded events + documents corpus into ``n_batches`` ingest
    batches. Batch ``k`` is a dict with

    * ``events``: the rows delivered to the landing directory — the batch's
      time slice, minus the events held back as late, plus the late events
      of the previous slice (first deliveries whose event time lies in the
      last ``LATE_LAG_US`` of that slice), plus exact redeliveries of rows
      already delivered (same event time, same values);
    * ``restated``: corrections of events committed by earlier batches, with
      a new ``value``; they arrive on a corrections feed, not the transport;
    * ``documents``: the batch's documents, each ``doc_id`` exactly once
      across batches.
    """
    rng = np.random.default_rng([seed, 2])
    ev = events_table(rng, n_events, max(10, n_events // 60), days=INGEST_DAYS)
    docs = documents_table(rng, n_docs)
    ts = ev.column("ts").cast(pa.int64()).to_numpy()
    slices = np.array_split(np.arange(n_events), n_batches)
    doc_batches = np.array_split(rng.permutation(n_docs), n_batches)

    late_from_prev = np.array([], dtype=np.int64)
    delivered = np.array([], dtype=np.int64)  # first deliveries so far
    out = []
    for k, sl in enumerate(slices):
        first = sl
        if k + 1 < n_batches:
            tail = sl[ts[sl] >= ts[sl[-1]] - LATE_LAG_US]
            n_held = min(len(tail) // 2, int(len(sl) * late_share))
            held = rng.choice(tail, n_held, replace=False)
            first = np.setdiff1d(sl, held)
        else:
            held = np.array([], dtype=np.int64)
        first = np.concatenate([first, late_from_prev])
        # redeliveries: rows already delivered this batch or by the last one
        pool = np.concatenate([delivered[-len(sl):], first])
        redeliver = rng.choice(pool, int(len(sl) * redeliver_share), replace=False)
        rows = np.concatenate([first, redeliver])
        rows = rows[rng.permutation(len(rows))]
        restated = np.array([], dtype=np.int64)
        if len(delivered):
            restated = np.sort(
                rng.choice(delivered, int(len(sl) * restate_share), replace=False)
            )
        values = np.round(rng.uniform(0.01, 500.0, len(restated)), 2)
        restated_tbl = ev.take(pa.array(restated)).set_column(
            ev.schema.get_field_index("value"), "value", pa.array(values)
        )
        out.append(
            {
                "events": ev.take(pa.array(rows)),
                "restated": restated_tbl,
                "documents": docs.take(pa.array(np.sort(doc_batches[k]))),
            }
        )
        delivered = np.concatenate([delivered, first])
        late_from_prev = held
    return out


def fold_events(batches: list[dict], upto: int) -> dict[int, tuple]:
    """The events table a correct ingest holds after batch ``upto``: every
    event delivered so far exactly once, with the latest restatement of
    its value applied. ``{event_id: row tuple}``."""
    state: dict[int, tuple] = {}
    for b in batches[: upto + 1]:
        for row in b["events"].to_pylist():
            state.setdefault(row["event_id"], tuple(row.values()))
        for row in b["restated"].to_pylist():
            state[row["event_id"]] = tuple(row.values())
    return state
