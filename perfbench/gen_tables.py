"""Seeded star-schema parquet tables for the query mix.

Same table names, column names, types and value domains as the
test data the query registry is written against (TESTDATA.md) (TPC-H-shaped
region/nation/customer/supplier/part/orders/lineitem plus the events
and documents side tables), drawn from ``numpy.random.default_rng(seed)``
at scale factor ``sf`` (orders = 150,000 x sf, ~4 line items per order).
"""

from __future__ import annotations

from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["blue", "red", "hot", "old", "large", "small", "green", "steel"]
PART_NOUN = ["anvil", "plate", "ring", "rod", "widget", "bolt", "gear", "spring"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_P = [0.44, 0.15, 0.14, 0.14, 0.13]
WORDS = ("a the data spark join stream small batch window vector hash fast key "
         "row sort agg scan table group merge part value line column").split()


def _days(rng, n: int, start: str, end: str) -> np.ndarray:
    lo, hi = np.datetime64(start, "D"), np.datetime64(end, "D")
    d = lo + rng.integers(0, (hi - lo).astype(int) + 1, n).astype("timedelta64[D]")
    return d.astype("datetime64[us]")


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values: list[str], n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def tables(sf: float, seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_ev = int(1_500_000 * sf), int(1_000_000 * sf)
    n_line, n_doc = 4 * n_ord, max(500, int(50_000 * sf))
    i32 = lambda a: pa.array(a, pa.int32())  # noqa: E731
    out = {
        "region": pa.table({"r_regionkey": i32(range(5)), "r_name": REGIONS}),
        "nation": pa.table({
            "n_nationkey": i32(range(25)),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": i32([i % 5 for i in range(25)]),
        }),
        "customer": pa.table({
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": i32(rng.integers(0, 25, n_cust)),
            "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
            "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
        }),
        "supplier": pa.table({
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": i32(rng.integers(0, 25, n_supp)),
            "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
        }),
        "part": pa.table({
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": _pick(rng, [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN], n_part),
            "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], n_part),
            "p_type": _pick(rng, PART_TYPES, n_part),
            "p_size": i32(rng.integers(1, 51, n_part)),
            "p_retailprice": np.round(900.0 + rng.integers(0, 1000, n_part) / 10, 1),
        }),
        "orders": pa.table({
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
            "o_totalprice": _money(rng, n_ord, 1000.0, 500_000.0),
            "o_orderdate": _days(rng, n_ord, "1995-01-01", "2001-08-01"),
            "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
        }),
        "lineitem": pa.table({
            "l_orderkey": rng.integers(0, n_ord, n_line),
            "l_partkey": rng.integers(0, n_part, n_line),
            "l_suppkey": rng.integers(0, n_supp, n_line),
            "l_linenumber": i32(rng.integers(1, 8, n_line)),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(rng, n_line, 900.0, 105_000.0),
            "l_discount": rng.integers(0, 11, n_line) / 100,
            "l_tax": rng.integers(0, 9, n_line) / 100,
            "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
            "l_linestatus": _pick(rng, ["F", "O"], n_line),
            "l_shipdate": _days(rng, n_line, "1995-01-02", "2001-11-04"),
        }),
        "events": pa.table({
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": np.datetime64("2024-01-01", "us")
            + rng.integers(0, 30 * 86_400_000_000, n_ev).astype("timedelta64[us]"),
            "user_id": rng.integers(0, max(1, n_cust // 10), n_ev),
            "event_type": _pick(rng, EVENT_TYPES, n_ev),
            "value": np.round(rng.exponential(40.0, n_ev), 2) + 0.01,
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }),
    }
    texts = [" ".join(np.asarray(WORDS)[rng.integers(0, len(WORDS), k)])
             for k in rng.integers(10, 90, n_doc)]
    out["documents"] = pa.table({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": _pick(rng, LANGS, n_doc, p=LANG_P),
        "source": _pick(rng, [f"src{i}" for i in range(20)], n_doc),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    return out


def write(out_dir: str | Path, sf: float, seed: int) -> None:
    """Write every table as ``{out_dir}/{name}.parquet``."""
    out = Path(out_dir)
    out.mkdir(parents=True, exist_ok=True)
    for name, t in tables(sf, seed).items():
        pq.write_table(t, out / f"{name}.parquet")
