"""Seeded input generators.  The same seed gives the same inputs; the
program only ever sees what these functions produce."""

from __future__ import annotations

import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------- dashboard
# TPC-H-ish star schema with the column names, types and value domains
# the q1-q10 builders read (lineitem/orders facts; part, customer,
# nation, region dimensions).

DASHBOARD_TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
                    "lineitem")
DASHBOARD_SIZES = {"customer": 1500, "part": 2000, "supplier": 100, "orders": 15000}
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
WORDS = ["small", "large", "red", "blue", "steel", "brass", "ring", "bolt",
         "frame", "gear", "plate", "valve"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
DAY0 = np.datetime64("1995-01-01", "us")
ORDER_DAYS = 2400  # order dates span 1995-01-01 .. 2001-07-28


def _write(out_dir: str, name: str, cols: dict, schema: pa.Schema) -> None:
    table = pa.table(cols, schema=schema)
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def write_dashboard_tables(out_dir: str, seed: int) -> dict[str, int]:
    """Write region/nation/customer/supplier/part/orders/lineitem parquet
    files; returns the row count of each."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()
    ts = pa.timestamp("us")
    n_c, n_p = DASHBOARD_SIZES["customer"], DASHBOARD_SIZES["part"]
    n_s, n_o = DASHBOARD_SIZES["supplier"], DASHBOARD_SIZES["orders"]

    _write(out_dir, "region", {"r_regionkey": np.arange(5, dtype=np.int32),
                               "r_name": REGIONS},
           pa.schema([("r_regionkey", i32), ("r_name", s)]))
    _write(out_dir, "nation", {
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32),
    }, pa.schema([("n_nationkey", i32), ("n_name", s), ("n_regionkey", i32)]))
    _write(out_dir, "customer", {
        "c_custkey": np.arange(n_c, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_c)],
        "c_nationkey": rng.integers(0, 25, n_c).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_c), 2),
        "c_mktsegment": rng.choice(SEGMENTS, n_c).tolist(),
    }, pa.schema([("c_custkey", i64), ("c_name", s), ("c_nationkey", i32),
                  ("c_acctbal", f64), ("c_mktsegment", s)]))
    _write(out_dir, "supplier", {
        "s_suppkey": np.arange(n_s, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_s)],
        "s_nationkey": rng.integers(0, 25, n_s).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_s), 2),
    }, pa.schema([("s_suppkey", i64), ("s_name", s), ("s_nationkey", i32),
                  ("s_acctbal", f64)]))
    price = np.round(900.0 + rng.integers(0, 1000, n_p) / 10.0, 2)
    w1, w2 = rng.integers(0, len(WORDS), n_p), rng.integers(0, len(WORDS), n_p)
    _write(out_dir, "part", {
        "p_partkey": np.arange(n_p, dtype=np.int64),
        "p_name": [f"{WORDS[a]} {WORDS[b]}" for a, b in zip(w1, w2)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_p)],
        "p_type": rng.choice(TYPES, n_p).tolist(),
        "p_size": rng.integers(1, 51, n_p).astype(np.int32),
        "p_retailprice": price,
    }, pa.schema([("p_partkey", i64), ("p_name", s), ("p_brand", s),
                  ("p_type", s), ("p_size", i32), ("p_retailprice", f64)]))
    odate = DAY0 + rng.integers(0, ORDER_DAYS, n_o).astype("timedelta64[D]")
    _write(out_dir, "orders", {
        "o_orderkey": np.arange(n_o, dtype=np.int64),
        "o_custkey": rng.integers(0, n_c, n_o).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_o).tolist(),
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_o), 2),
        "o_orderdate": odate,
        "o_orderpriority": rng.choice(PRIORITIES, n_o).tolist(),
    }, pa.schema([("o_orderkey", i64), ("o_custkey", i64),
                  ("o_orderstatus", s), ("o_totalprice", f64),
                  ("o_orderdate", ts), ("o_orderpriority", s)]))
    lines = rng.integers(1, 8, n_o)  # 1..7 lines per order, ~4 on average
    okey = np.repeat(np.arange(n_o, dtype=np.int64), lines)
    n_l = len(okey)
    lineno = (np.arange(n_l) - np.repeat(np.cumsum(lines) - lines, lines) + 1)
    pkey = rng.integers(0, n_p, n_l).astype(np.int64)
    qty = rng.integers(1, 51, n_l).astype(np.float64)
    _write(out_dir, "lineitem", {
        "l_orderkey": okey,
        "l_partkey": pkey,
        "l_suppkey": rng.integers(0, n_s, n_l).astype(np.int64),
        "l_linenumber": lineno.astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * price[pkey], 2),
        "l_discount": rng.integers(0, 11, n_l) / 100.0,
        "l_tax": rng.integers(0, 9, n_l) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_l).tolist(),
        "l_linestatus": rng.choice(["F", "O"], n_l).tolist(),
        "l_shipdate": np.repeat(odate, lines)
        + rng.integers(1, 122, n_l).astype("timedelta64[D]"),
    }, pa.schema([("l_orderkey", i64), ("l_partkey", i64), ("l_suppkey", i64),
                  ("l_linenumber", i32), ("l_quantity", f64),
                  ("l_extendedprice", f64), ("l_discount", f64), ("l_tax", f64),
                  ("l_returnflag", s), ("l_linestatus", s), ("l_shipdate", ts)]))
    return {"region": 5, "nation": 25, "customer": n_c, "supplier": n_s,
            "part": n_p, "orders": n_o, "lineitem": n_l}


# ---------------------------------------------------------------------- cdc
# A documents-shaped bronze table (doc_id, source, n_chars) far larger
# than one change batch, and per-cycle batches of appended, updated and
# deleted documents.  The generator keeps the expected bronze state, so
# silver and gold can be checked without asking the program.

CDC_BRONZE_ROWS = 4000
CDC_BATCH = {"append": 40, "merge": 20, "delete": 10}
SOURCES = [f"src{i}" for i in range(8)]


class CdcModel:
    """Seeded change-batch generator plus the expected bronze state."""

    def __init__(self, seed: int, rows: int = CDC_BRONZE_ROWS) -> None:
        self.rng = random.Random(seed)
        self.next_id = 0
        self.bronze: dict[int, tuple[str, int]] = {}
        self.initial = [self._new_doc() for _ in range(rows)]
        self.bronze.update((d, (s, n)) for d, s, n in self.initial)

    def _new_doc(self) -> tuple[int, str, int]:
        # ids jump by a random stride so the key range is not dense
        self.next_id += self.rng.randint(1, 3)
        return (self.next_id, self.rng.choice(SOURCES),
                self.rng.randint(20, 2000))

    def batch(self) -> dict[str, list]:
        """The next cycle's appended docs, updated docs (existing ids,
        new source and length) and deleted ids — disjoint id sets."""
        appended = [self._new_doc() for _ in range(CDC_BATCH["append"])]
        live = sorted(self.bronze)
        touched = self.rng.sample(live, CDC_BATCH["merge"] + CDC_BATCH["delete"])
        merged = [(d, self.rng.choice(SOURCES), self.rng.randint(20, 2000))
                  for d in touched[:CDC_BATCH["merge"]]]
        deleted = touched[CDC_BATCH["merge"]:]
        for d, s, n in appended + merged:
            self.bronze[d] = (s, n)
        for d in deleted:
            del self.bronze[d]
        return {"append": appended, "merge": merged, "delete": deleted}

    def expected_silver(self) -> dict[int, tuple[str, int, int]]:
        """Silver is the curated bronze: even-length docs, twice_chars added."""
        return {d: (s, n, 2 * n) for d, (s, n) in self.bronze.items() if n % 2 == 0}

    def expected_gold(self) -> dict[str, tuple[int, int, int]]:
        """Per-source (n_docs, sum_chars, sum_twice) over silver."""
        out: dict[str, tuple[int, int, int]] = {}
        for s, n, t in self.expected_silver().values():
            a, b, c = out.get(s, (0, 0, 0))
            out[s] = (a + 1, b + n, c + t)
        return out
