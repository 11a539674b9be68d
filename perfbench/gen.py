"""Seeded benchmark inputs: all ten tables, grown from the sf0.001 fixture.

``base/`` holds a copy of the sf0.001 fixture, so the benchmark needs no
data outside its own directory. ``generate`` replicates it with the replica
semantics of ``tools/gen_scaled_sf.py`` and ``tools/gen_robust_fixture.py``:

- customer, supplier, part, orders, lineitem and events: ``rel`` replicas
  with every entity key shifted per replica, foreign keys shifted by the
  offset of the table they point into (``events.user_id`` follows
  ``customer``). Entity counts grow; value domains and per-entity density
  stay the same, as with TPC-H's own scale factor.
- region, nation, documents and embeddings are copied.

The seed picks the gap added to each key offset, so two seeds give
different bytes with the same shape.
"""

from __future__ import annotations

import os
import shutil

import duckdb
import numpy as np

BASE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "base")
# Bump when the replica semantics change, so cached inputs are rebuilt.
VERSION = 1

# table -> SELECT list template; {i} is the replica, {cust} etc. the offsets
_REPLICATED = {
    "customer": "c_custkey + {i} * {cust} AS c_custkey, c_name, c_nationkey,"
                " c_acctbal, c_mktsegment",
    "supplier": "s_suppkey + {i} * {supp} AS s_suppkey, s_name, s_nationkey,"
                " s_acctbal",
    "part": "p_partkey + {i} * {part} AS p_partkey, p_name, p_brand, p_type,"
            " p_size, p_retailprice",
    "orders": "o_orderkey + {i} * {order} AS o_orderkey,"
              " o_custkey + {i} * {cust} AS o_custkey, o_orderstatus,"
              " o_totalprice, o_orderdate, o_orderpriority",
    "lineitem": "l_orderkey + {i} * {order} AS l_orderkey,"
                " l_partkey + {i} * {part} AS l_partkey,"
                " l_suppkey + {i} * {supp} AS l_suppkey, l_linenumber,"
                " l_quantity, l_extendedprice, l_discount, l_tax,"
                " l_returnflag, l_linestatus, l_shipdate",
    "events": "event_id + {i} * {event} AS event_id, ts,"
              " user_id + {i} * {cust} AS user_id, event_type, value, props",
}
_KEYS = {
    "cust": ("customer", "c_custkey"),
    "supp": ("supplier", "s_suppkey"),
    "part": ("part", "p_partkey"),
    "order": ("orders", "o_orderkey"),
    "event": ("events", "event_id"),
}


def _src(table: str) -> str:
    return f"read_parquet('{BASE}/{table}.parquet')"


def _copy(con: duckdb.DuckDBPyConnection, select: str, out: str) -> None:
    con.sql(f"COPY ({select}) TO '{out}' (FORMAT PARQUET)")


def generate(out_dir: str, seed: int, rel: int) -> None:
    """Write all ten tables to ``out_dir`` (created; must not exist)."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir)
    con = duckdb.connect()
    try:
        off = {}
        for k, (table, col) in _KEYS.items():
            top = con.sql(f"SELECT MAX({col}) FROM {_src(table)}").fetchone()[0]
            off[k] = int(top) + 1 + int(rng.integers(0, 1000))
        for table in ("region", "nation", "documents", "embeddings"):
            _copy(con, f"SELECT * FROM {_src(table)}", f"{out_dir}/{table}.parquet")
        for table, cols in _REPLICATED.items():
            parts = [
                f"SELECT {cols.format(i=i, **off)} FROM {_src(table)}"
                for i in range(rel)
            ]
            _copy(con, " UNION ALL ".join(parts), f"{out_dir}/{table}.parquet")
    finally:
        con.close()


def ensure(cache_dir: str, seed: int, rel: int) -> str:
    """Return a directory holding the inputs for these arguments, generating
    them once; a finished directory is renamed into place, so an
    interrupted generation is never mistaken for a cached one."""
    out = os.path.join(cache_dir, f"v{VERSION}-r{rel}-s{seed}")
    if not os.path.isdir(out):
        tmp = out + f".tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        generate(tmp, seed, rel)
        os.replace(tmp, out)
    return out
