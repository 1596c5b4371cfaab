"""Seeded fixture tables for the query workload.

Writes ``events``, ``orders`` and ``lineitem`` parquet files with the
schema, row counts (1e6, 1.5e6 and 6e6 times the scale factor), key
ranges, value distributions and date ranges of the repository's
sf-scaled fixtures (FIXTURES.md): every column is drawn independently
and uniformly, except ``events.ts`` (sorted, so it rises with
``event_id``) and ``events.value`` (exponential, mean 50).  NOTES.md
compares the result with the sf0.1 fixture, topic by topic and query by
query.  These three tables are all the benchmark's query set reads; the
registry's builders and the DuckDB oracles both read the same files.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ("events", "orders", "lineitem")
EVENT_TYPES = np.array(["click", "view", "purchase", "signup", "error"])
PRIORITIES = np.array(
    ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
)


def _us(base: str, offsets_us: np.ndarray) -> pa.Array:
    start = np.datetime64(base, "us").astype(np.int64)
    return pa.array(start + offsets_us, type=pa.timestamp("us"))


def write_tables(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_ev, n_ord, n_li = int(1e6 * sf), int(1.5e6 * sf), int(6e6 * sf)
    month_us = 30 * 86_400 * 1_000_000
    day_us = 86_400 * 1_000_000

    events = pa.table({
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": _us("2024-01-01", np.sort(rng.integers(0, month_us, n_ev))),
        "user_id": pa.array(rng.integers(0, 15_000 * sf, n_ev)),
        "event_type": pa.array(EVENT_TYPES[rng.integers(0, 5, n_ev)]),
        "value": pa.array(np.round(rng.exponential(50.0, n_ev), 2)),
        "props": pa.array(
            [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]
        ),
    })
    orders = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, 150_000 * sf, n_ord)),
        "o_orderstatus": pa.array(
            np.array(["O", "F", "P"])[rng.integers(0, 3, n_ord)]
        ),
        "o_totalprice": pa.array(np.round(rng.uniform(900, 500_000, n_ord), 2)),
        "o_orderdate": _us(
            "1995-01-01", rng.integers(0, 2405, n_ord) * day_us
        ),
        "o_orderpriority": pa.array(PRIORITIES[rng.integers(0, 5, n_ord)]),
    })
    lineitem = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li)),
        "l_partkey": pa.array(rng.integers(0, 200_000 * sf, n_li)),
        "l_suppkey": pa.array(rng.integers(0, 10_000 * sf, n_li)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(np.float64)),
        "l_extendedprice": pa.array(
            np.round(rng.uniform(900, 105_000, n_li), 2)
        ),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
        "l_returnflag": pa.array(
            np.array(["N", "A", "R"])[rng.integers(0, 3, n_li)]
        ),
        "l_linestatus": pa.array(
            np.array(["O", "F"])[rng.integers(0, 2, n_li)]
        ),
        "l_shipdate": _us("1995-01-02", rng.integers(0, 2499, n_li) * day_us),
    })
    rows = {}
    for name, table in (("events", events), ("orders", orders),
                        ("lineitem", lineitem)):
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = table.num_rows
    return rows
