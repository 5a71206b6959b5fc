"""Seeded input generators for the benchmark.

``star_schema`` writes the ten tables the query registry reads, with the
shapes and value ranges of the driver's fixture schema (FIXTURES.md §2):
uniform keys and measures, a 30-word vocabulary for documents with 5 %
appended near-duplicates, unit-norm 64-d float32 embeddings. Row counts
scale linearly with ``sf`` like the driver's sf0.01/sf0.1 sets (the
embeddings table has a 500-row floor, as there).

``raw_increment`` builds one T3 transaction increment
(``RAW_TRANSACTIONS_SCHEMA``) with known counts of every row the cleaner
drops, so the benchmark can assert ``rows_written`` exactly.

Everything is a pure function of its arguments: one seed, one dataset.
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from datetime import datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line merge "
    "order part query row scan slow small sort spark stream table the value vector window"
).split()

EVENTS_START = datetime(2024, 1, 1)
EVENTS_DAYS = 30


def _days(rng: np.random.Generator, start: str, end: str, n: int) -> np.ndarray:
    lo, hi = np.datetime64(start, "D"), np.datetime64(end, "D")
    off = rng.integers(0, int((hi - lo).astype(int)) + 1, n)
    return (lo + off).astype("datetime64[us]")


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def star_schema(out_dir: str, sf: float, seed: int) -> dict[str, int]:
    """Write the registry's ten input tables under ``out_dir``; return row
    counts per table."""
    rng = np.random.default_rng([seed, 0x5F])
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb, n_users = int(50_000 * sf), max(500, int(20_000 * sf)), int(15_000 * sf)
    i32 = pa.int32()

    _write(out_dir, "region", {"r_regionkey": pa.array(range(5), i32), "r_name": REGIONS})
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
    })
    _write(out_dir, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
    })
    _write(out_dir, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    pk = np.arange(n_part, dtype=np.int64)
    _write(out_dir, "part", {
        "p_partkey": pk,
        "p_name": np.char.add(
            np.char.add(np.array(PART_ADJ)[rng.integers(0, 8, n_part)], " "),
            np.array(PART_NOUN)[rng.integers(0, 8, n_part)],
        ),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 1),
    })
    _write(out_dir, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n_ord),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
    })
    _write(out_dir, "lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_li),
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), i32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n_li),
    })
    pq.write_table(events(seed, n_ev, n_users), os.path.join(out_dir, "events.parquet"))
    vocab = np.array(VOCAB)
    texts = [" ".join(vocab[rng.integers(0, len(VOCAB), rng.integers(10, 101))]) for _ in range(n_doc)]
    # exactly one doc in 20 is a near-duplicate: an earlier doc + " dup"
    for j in np.sort(rng.choice(np.arange(1, n_doc), n_doc // 20, replace=False)):
        texts[j] = texts[int(rng.integers(0, j))] + " dup"
    _write(out_dir, "documents", {
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, n_doc, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    emb = rng.standard_normal((n_emb, 64))
    emb = (emb / np.linalg.norm(emb, axis=1, keepdims=True)).astype(np.float32)
    _write(out_dir, "embeddings", {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), i32),
    })
    return {
        "customer": n_cust, "supplier": n_supp, "part": n_part, "orders": n_ord,
        "lineitem": n_li, "events": n_ev, "documents": n_doc, "embeddings": n_emb,
    }


def events(seed: int, n: int, n_users: int) -> pa.Table:
    """The events stream table: ``n`` events over 30 days of January 2024,
    ``event_id`` in time order."""
    rng = np.random.default_rng([seed, 0xE7])
    span_us = EVENTS_DAYS * 86_400_000_000
    ts = np.sort(rng.integers(0, span_us, n)) + np.datetime64(EVENTS_START, "us")
    return pa.table({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": ts,
        "user_id": rng.integers(0, n_users, n),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n)],
        "value": np.maximum(np.round(rng.exponential(50.0, n), 2), 0.01),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })


# ---- T3 raw transactions (ingest workload) ---------------------------------

TRUCKS = [(i, f"Truck {i}", f"truck {i} description", i % 2, 1 + i % 5) for i in range(1, 9)]
METHODS = [(1, "card"), (2, "cash")]


@dataclass(frozen=True)
class Increment:
    """One raw increment plus what the cleaner must make of it."""

    rows: list[tuple]
    expect_written: int  # rows the cleaner keeps and the watermark admits
    expect_cents: int  # revenue of the kept rows, integer pence
    day: str  # the increment's only day, YYYY-MM-DD: the report's target
    injected: dict[str, int]


def raw_increment(seed: int, cycle: int, n: int, first_id: int) -> Increment:
    """``n`` valid T3 transactions on day ``cycle`` (one day per cycle, so
    every increment lies strictly above the previous watermark), plus
    injected rows the cleaner must drop — NULL totals, zero totals, dedup
    duplicates with a higher id, NULL critical columns — and
    watermark-second ties: valid rows sharing the increment's last
    second, which must all be kept."""
    rng = np.random.default_rng([seed, 0x73, cycle])
    day = datetime(2024, 3, 1) + timedelta(days=cycle)
    n_null, n_zero, n_dup, n_crit, n_tie = (max(1, n // d) for d in (200, 250, 100, 300, 2000))
    # distinct (second, truck, method) per valid row keeps dedup keys unique
    slots = rng.choice(86_000 * 16, n, replace=False)
    secs, combo = slots // 16, slots % 16
    truck_ix, method_ix = combo % 8, combo // 8
    totals = rng.integers(100, 5000, n)
    last = day + timedelta(seconds=86_399)
    rows: list[tuple] = []

    def row(tid, at, total, ti, mi):
        t = TRUCKS[ti] if ti is not None else (None, "Truck ?", "unknown", 0, 1)
        m = METHODS[mi] if mi is not None else (None, "card")
        return (tid, at.strftime("%Y-%m-%d %H:%M:%S"), total, t[0], m[0], t[1], t[2], t[3], t[4], m[1])

    tid = first_id
    for s, ti, mi, tot in zip(secs.tolist(), truck_ix.tolist(), method_ix.tolist(), totals.tolist()):
        rows.append(row(tid, day + timedelta(seconds=s), tot, ti, mi))
        tid += 1
    # watermark-second ties: distinct keys, all at the day's last second
    for k in range(n_tie):
        rows.append(row(tid, last, 777 + k, k % 8, k % 2))
        tid += 1
    for k in range(n_dup):  # same key as a valid row, later id: dropped
        src = rows[int(rng.integers(0, n))]
        rows.append((tid,) + src[1:])
        tid += 1
    for k in range(n_null):
        rows.append(row(tid, day + timedelta(seconds=int(rng.integers(0, 86_000))), None, k % 8, k % 2))
        tid += 1
    for k in range(n_zero):
        rows.append(row(tid, day + timedelta(seconds=int(rng.integers(0, 86_000))), 0, k % 8, k % 2))
        tid += 1
    for k in range(n_crit):  # NULL truck_id or NULL payment_method_id
        at = day + timedelta(seconds=int(rng.integers(0, 86_000)))
        rows.append(row(tid, at, 1234, None if k % 2 else k % 8, k % 2 if k % 2 else None))
        tid += 1
    order = rng.permutation(len(rows))
    rows = [rows[i] for i in order]
    kept_cents = int(totals.sum()) + sum(777 + k for k in range(n_tie))
    kept = n + n_tie
    return Increment(
        rows=rows,
        expect_written=kept,
        expect_cents=kept_cents,
        day=day.strftime("%Y-%m-%d"),
        injected={"null_total": n_null, "zero_total": n_zero, "duplicate": n_dup,
                  "null_critical": n_crit, "watermark_tie": n_tie},
    )


RAW_ARROW_SCHEMA = pa.schema([
    ("transaction_id", pa.int64()), ("at", pa.string()), ("total", pa.int64()),
    ("truck_id", pa.int32()), ("payment_method_id", pa.int32()), ("truck_name", pa.string()),
    ("truck_description", pa.string()), ("has_card_reader", pa.int32()),
    ("fsa_rating", pa.int32()), ("payment_method", pa.string()),
])


def write_increment(path: str, inc: Increment) -> None:
    """One parquet file with the Spark types of ``RAW_TRANSACTIONS_SCHEMA``."""
    cols = list(zip(*inc.rows))
    pq.write_table(pa.table(
        [pa.array(c, f.type) for c, f in zip(cols, RAW_ARROW_SCHEMA)], schema=RAW_ARROW_SCHEMA
    ), path)
