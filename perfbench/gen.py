"""Seeded input generator for the benchmark.

Writes the ten engine tables (``schemas.TPCH_TABLES``) as one parquet
file each, with the column names and types the engine declares, plus a
directory of time-ordered event files for the streaming workload. Every
value derives from ``--seed``: each table draws from its own child of one
``numpy.random.SeedSequence``, so a table's contents do not depend on the
size of any other table, and the same seed and profile give byte-identical
files.

The value distributions follow the repository's fixture tables
(TESTDATA.md): uniform foreign keys, the fixture's categorical domains,
day-granular order and ship dates, a 31-word document vocabulary with a
share of planted near-duplicates, unit-norm 64-dim embeddings and an event
stream with strictly increasing microsecond timestamps. Sizes come from a
named profile, one per workload.

Usage::

    python3 perfbench/gen.py --seed 7 --profile etl_stream --out DIR
"""

from __future__ import annotations

import argparse
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Rows per table for each workload profile. A profile sizes the tables
#: its workload exercises and keeps the rest small, since the DuckDB
#: oracle binds a view over every table.
PROFILES: dict[str, dict[str, int]] = {
    "etl_stream": dict(
        customer=3_000, supplier=200, part=4_000, orders=30_000,
        lineitem=120_000, events=6_000, documents=100, embeddings=200,
    ),
    "graph_ann": dict(
        customer=1_500, supplier=100, part=2_000, orders=15_000,
        lineitem=60_000, events=1_000, documents=100, embeddings=3_000,
    ),
}

#: Event files the streaming workload drains, one per trigger.
STREAM_FILES = 2

EMB_DIM = 64
WORDS = (
    "a the big small fast slow data table column row key value join hash "
    "scan filter sort group agg window merge batch stream spark query part "
    "order line customer vector"
).split()
_DAY_US = 86_400 * 1_000_000
_ORDER_START = np.datetime64("1995-01-01", "us")
_SHIP_START = np.datetime64("1995-01-02", "us")
_EVENT_START = np.datetime64("2024-01-01", "us")


def _ts(start: np.datetime64, offsets_us: np.ndarray) -> pa.Array:
    return pa.array(start + offsets_us.astype("timedelta64[us]"), pa.timestamp("us"))


def _days(rng: np.random.Generator, n: int, span_days: int) -> np.ndarray:
    return rng.integers(0, span_days + 1, n) * _DAY_US


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng: np.random.Generator, values: list[str], n: int) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)])


def _names(prefix: str, n: int) -> pa.Array:
    return pa.array([f"{prefix}#{i:09d}" for i in range(n)])


def _region():
    names = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
    return pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(names),
    })


def _nation():
    return pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })


def _customer(rng, n):
    segments = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
    return pa.table({
        "c_custkey": pa.array(np.arange(n, dtype=np.int64)),
        "c_name": _names("Customer", n),
        "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n)),
        "c_mktsegment": _pick(rng, segments, n),
    })


def _supplier(rng, n):
    return pa.table({
        "s_suppkey": pa.array(np.arange(n, dtype=np.int64)),
        "s_name": _names("Supplier", n),
        "s_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n)),
    })


def _part(rng, n):
    adjs = ["small", "large", "red", "blue", "hot", "old", "new", "shiny"]
    nouns = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "nut"]
    names = [f"{a} {b}" for a in adjs for b in nouns]
    types = ["ECONOMY", "SMALL", "MEDIUM", "PROMO", "STANDARD", "LARGE"]
    keys = np.arange(n, dtype=np.int64)
    return pa.table({
        "p_partkey": pa.array(keys),
        "p_name": _pick(rng, names, n),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n)]),
        "p_type": _pick(rng, types, n),
        "p_size": pa.array(rng.integers(1, 51, n), pa.int32()),
        "p_retailprice": pa.array(np.round(900.0 + (keys % 1000) / 10.0, 2)),
    })


def _orders(rng, n, n_customer):
    priorities = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    return pa.table({
        "o_orderkey": pa.array(np.arange(n, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_customer, n, dtype=np.int64)),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500_000.0, n)),
        "o_orderdate": _ts(_ORDER_START, _days(rng, n, 2404)),
        "o_orderpriority": _pick(rng, priorities, n),
    })


def _lineitem(rng, n, n_orders, n_part, n_supplier):
    quantity = rng.integers(1, 51, n).astype(np.float64)
    partkey = rng.integers(0, n_part, n, dtype=np.int64)
    price = 900.0 + (partkey % 1000) / 10.0
    return pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_orders, n, dtype=np.int64)),
        "l_partkey": pa.array(partkey),
        "l_suppkey": pa.array(rng.integers(0, n_supplier, n, dtype=np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
        "l_quantity": pa.array(quantity),
        "l_extendedprice": pa.array(
            np.round(quantity * price * rng.uniform(0.9, 1.1, n), 2)
        ),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
        "l_returnflag": _pick(rng, ["A", "N", "R"], n),
        "l_linestatus": _pick(rng, ["F", "O"], n),
        "l_shipdate": _ts(_SHIP_START, _days(rng, n, 2498)),
    })


def _events(rng, n):
    # strictly increasing microsecond timestamps over 30 days
    gaps = rng.integers(1, 2 * (30 * _DAY_US) // n, n)
    types = ["click", "error", "purchase", "signup", "view"]
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": _ts(_EVENT_START, np.cumsum(gaps)),
        "user_id": pa.array(rng.integers(0, max(1, n // 66), n, dtype=np.int64)),
        "event_type": _pick(rng, types, n),
        "value": pa.array(np.clip(np.round(rng.lognormal(3.5, 1.0, n), 2), 0.01, 490.02)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })


def _documents(rng, n):
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < 0.05:
            # planted near-duplicate: an earlier document plus one word
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            words = np.asarray(WORDS)[rng.integers(0, len(WORDS), rng.integers(8, 90))]
            texts.append(" ".join(words))
    langs = ["en", "en", "en", "de", "es", "fr", "zh"]
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": _pick(rng, langs, n),
        "source": pa.array([f"src{s}" for s in rng.integers(0, 20, n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def _embeddings(rng, n):
    x = rng.standard_normal((n, EMB_DIM)).astype(np.float32)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    flat = pa.array(x.reshape(-1), pa.float32())
    offsets = pa.array(np.arange(0, (n + 1) * EMB_DIM, EMB_DIM, dtype=np.int32))
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.ListArray.from_arrays(offsets, flat),
        "label": pa.array(rng.integers(0, 10, n), pa.int32()),
    })


def generate(seed: int, profile: str, out: str) -> dict[str, int]:
    """Write every table of ``profile`` under ``out``; return rows per table."""
    sizes = PROFILES[profile]
    pa.set_cpu_count(max(1, len(os.sched_getaffinity(0))))
    os.makedirs(out, exist_ok=True)
    seeded = ["customer", "supplier", "part", "orders", "lineitem", "events",
              "documents", "embeddings"]
    rng = {
        name: np.random.default_rng(s)
        for name, s in zip(seeded, np.random.SeedSequence(seed).spawn(len(seeded)))
    }
    tables = {
        "region": _region(),
        "nation": _nation(),
        "customer": _customer(rng["customer"], sizes["customer"]),
        "supplier": _supplier(rng["supplier"], sizes["supplier"]),
        "part": _part(rng["part"], sizes["part"]),
        "orders": _orders(rng["orders"], sizes["orders"], sizes["customer"]),
        "lineitem": _lineitem(
            rng["lineitem"], sizes["lineitem"], sizes["orders"],
            sizes["part"], sizes["supplier"],
        ),
        "events": _events(rng["events"], sizes["events"]),
        "documents": _documents(rng["documents"], sizes["documents"]),
        "embeddings": _embeddings(rng["embeddings"], sizes["embeddings"]),
    }
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out, f"{name}.parquet"))
    _split_events(tables["events"], os.path.join(out, "event_stream"))
    return {name: t.num_rows for name, t in tables.items()}


def _split_events(events: pa.Table, out: str) -> None:
    """Time-ordered event files for the file-source stream; modification
    times follow file order, so each trigger reads the next time slice."""
    os.makedirs(out, exist_ok=True)
    n = events.num_rows
    bounds = [n * i // STREAM_FILES for i in range(STREAM_FILES + 1)]
    for i in range(STREAM_FILES):
        path = os.path.join(out, f"part-{i:02d}.parquet")
        pq.write_table(events.slice(bounds[i], bounds[i + 1] - bounds[i]), path)
        stamp = 1_700_000_000 + 60 * i
        os.utime(path, (stamp, stamp))


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--profile", choices=sorted(PROFILES), required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    rows = generate(args.seed, args.profile, args.out)
    for name, count in rows.items():
        print(f"{name:12s} {count:>9,d} rows")


if __name__ == "__main__":
    main()
