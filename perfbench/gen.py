"""Seeded input generators. The benchmark makes every input here; the
program only ever reads the files written below. Same seed, same
bytes."""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

NOTE_WORDS = np.array(["draft", "sent", "paid", "late", "hold", "void", "open", "done"])


def listview_table(rng: np.random.Generator, n_rows: int, first_ord: int = 1) -> pa.Table:
    """An Odoo-like list view: a load-bearing row position, visibility,
    editability and read-only flags, and a few typed widget columns."""
    row_ord = np.arange(first_ord, first_ord + n_rows, dtype=np.int64)
    row_id = rng.permutation(n_rows).astype(np.int64) * 7 + 13 + first_ord * 7
    return pa.table(
        {
            "row_ord": row_ord,
            "row_id": row_id,
            "visible": rng.random(n_rows) < 0.7,
            "editable": rng.random(n_rows) < 0.95,
            "readonly": rng.random(n_rows) < 0.1,
            "name": pa.array([f"rec_{i}" for i in row_id.tolist()]),
            "note": pa.array(NOTE_WORDS[rng.integers(0, len(NOTE_WORDS), n_rows)]),
            "qty": rng.integers(0, 100, n_rows).astype(np.int32),
            "partner_id": rng.integers(0, 50, n_rows).astype(np.int64),
        }
    )


def write_parquet(table: pa.Table, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)


# --- TPC-H-like star schema plus events, at about sf0.01 -------------------

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
COLORS = ["blue", "red", "green", "black", "white", "small", "large", "shiny"]
NOUNS = ["anvil", "widget", "bolt", "ring", "gear", "spring", "valve", "plate"]
PART_TYPES = ["ECONOMY", "STANDARD", "SMALL", "MEDIUM", "LARGE", "PROMO"]
EVENT_TYPES = ["click", "view", "signup", "purchase", "error"]

_DAY_US = 86_400_000_000
_EPOCH_1995_US = 788_918_400_000_000  # 1995-01-01T00:00:00Z
_EPOCH_2024_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def catalog_tables(seed: int, scale: float = 0.01) -> dict[str, pa.Table]:
    """The eight tables the catalog workload's queries read. Row counts
    follow scale factor ``scale`` (sf0.01: 15k orders, ~60k lines)."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * scale), int(10_000 * scale), int(200_000 * scale)
    n_ord, n_ev, n_users = int(1_500_000 * scale), int(1_000_000 * scale), int(15_000 * scale)
    ts = lambda us: pa.array(us, type=pa.timestamp("us"))  # noqa: E731

    region = pa.table({"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS})
    nation = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    customer = pa.table(
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
        }
    )
    supplier = pa.table(
        {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    pk = np.arange(n_part, dtype=np.int64)
    retail = np.round(900.0 + (pk % 1000) / 10.0, 2)
    part = pa.table(
        {
            "p_partkey": pk,
            "p_name": [
                f"{COLORS[c]} {NOUNS[m]}"
                for c, m in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": retail,
        }
    )
    odate = _EPOCH_1995_US + rng.integers(0, 2400, n_ord) * _DAY_US
    orders = pa.table(
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
            "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
            "o_orderdate": ts(odate),
            "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
        }
    )
    # (l_orderkey, l_linenumber) is unique by construction
    lines = rng.integers(1, 8, n_ord)
    l_ok = np.repeat(np.arange(n_ord, dtype=np.int64), lines)
    l_ln = np.concatenate([np.arange(1, k + 1) for k in lines]).astype(np.int32)
    n_li = len(l_ok)
    l_pk = rng.integers(0, n_part, n_li).astype(np.int64)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    lineitem = pa.table(
        {
            "l_orderkey": l_ok,
            "l_partkey": l_pk,
            "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
            "l_linenumber": l_ln,
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * retail[l_pk], 2),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
            "l_shipdate": ts(odate[l_ok] + rng.integers(1, 122, n_li) * _DAY_US),
        }
    )
    gaps = rng.exponential(1.0, n_ev)
    ev_ts = _EPOCH_2024_US + (np.cumsum(gaps) / gaps.sum() * 30 * _DAY_US).astype(np.int64)
    events = pa.table(
        {
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": ts(ev_ts),
            "user_id": rng.integers(0, n_users, n_ev).astype(np.int64),
            "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
            "value": np.round(rng.lognormal(2.0, 1.2, n_ev).clip(0.01, 490.02), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    return {
        "region": region, "nation": nation, "customer": customer, "supplier": supplier,
        "part": part, "orders": orders, "lineitem": lineitem, "events": events,
    }
