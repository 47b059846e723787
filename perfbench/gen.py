"""Seeded input generators for the benchmark workloads.

Everything here is plain numpy/pyarrow and runs before any timed region.
The engine only ever sees the tables these functions produce and the
source ids drawn from them.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ssppr_* graph: directed, Zipf out-degree, a fixed share of out-degree-0
# nodes, random destinations (so it is cyclic), no self-loops, no duplicates.
SSPPR_NODES = 6_000
SSPPR_EDGES = 300_000
SSPPR_DANGLING = 0.2
SSPPR_ZIPF_A = 1.8

# base_prep_lookup: TPC-H-shaped star schema that sources.tpch_graph turns
# into customer -> supplier / customer -> nation / supplier -> nation edges.
TPCH_CUSTOMERS = 200
TPCH_SUPPLIERS = 20
TPCH_NATIONS = 25
TPCH_ORDERS_PER_CUSTOMER = 10
TPCH_MAX_LINES = 7


def ssppr_graph(
    seed: int,
    n: int = SSPPR_NODES,
    m: int = SSPPR_EDGES,
    dangling: float = SSPPR_DANGLING,
    zipf_a: float = SSPPR_ZIPF_A,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Return (ids, src, dst): original node ids and the edge list over them.

    Exactly ``round(dangling * n)`` nodes get out-degree 0; the others get
    a Zipf weight capped at ``n // 10``, scaled so the edge count lands near
    ``m``. The weights are the Zipf quantiles at evenly spaced levels, dealt
    to the nodes in a seeded order: every seed has the same out-degree
    multiset (independent Zipf draws moved the typical out-degree between 5
    and 8 with the seed). Destinations are uniform over the other nodes,
    which rules out self-loops; duplicate pairs are dropped. Ids are odd
    numbers, so a kernel that confused dense positions with ids would answer
    for the wrong node.
    """
    rng = np.random.default_rng(seed)
    dang = np.zeros(n, dtype=bool)
    dang[rng.permutation(n)[: round(dangling * n)]] = True
    w = np.zeros(n)
    w[~dang] = rng.permutation(zipf_quantiles(zipf_a, n // 10, int((~dang).sum())))
    deg = np.where(dang, 0, np.maximum(1, np.round(w / w.sum() * m))).astype(np.int64)
    deg = np.minimum(deg, n - 1)
    src = np.repeat(np.arange(n, dtype=np.int64), deg)
    dst = (src + 1 + rng.integers(0, n - 1, len(src))) % n
    key = np.unique(src * n + dst)
    src, dst = key // n, key % n
    ids = np.arange(n, dtype=np.int64) * 2 + 1
    return ids, ids[src], ids[dst]


def zipf_quantiles(a: float, cap: int, k: int) -> np.ndarray:
    """``k`` values of min(Zipf(a), cap), at the levels (i + 0.5) / k."""
    j = np.arange(1, cap + 1, dtype=np.float64)
    big = 1e6  # zeta(a): the sum to ``big`` plus the integral of the rest
    zeta = np.sum(np.arange(1, big + 1) ** -a) + big ** (1 - a) / (a - 1) - big ** -a / 2
    cdf = np.cumsum(j ** -a) / zeta
    cdf[-1] = 1.0  # min(., cap) puts all the mass from cap upward at cap
    levels = (np.arange(k) + 0.5) / k
    return np.searchsorted(cdf, levels).astype(np.float64) + 1.0


def write_ssppr(ids: np.ndarray, src: np.ndarray, dst: np.ndarray, out_dir: str) -> tuple[str, str]:
    """nodes.parquet and edges.parquet in the PropertyGraph column layout;
    returns their paths."""
    os.makedirs(out_dir, exist_ok=True)
    paths = os.path.join(out_dir, "nodes.parquet"), os.path.join(out_dir, "edges.parquet")
    pq.write_table(pa.table({"id": ids, "name": np.char.add("v", ids.astype(str))}), paths[0])
    pq.write_table(pa.table({"src": src, "dst": dst}), paths[1])
    return paths


def tpch_columns(
    seed: int,
    customers: int = TPCH_CUSTOMERS,
    suppliers: int = TPCH_SUPPLIERS,
    orders_per_customer: int = TPCH_ORDERS_PER_CUSTOMER,
) -> dict[str, dict[str, np.ndarray]]:
    """The columns ``sources.tpch_graph`` reads, table by table."""
    rng = np.random.default_rng(seed)
    n_orders = customers * orders_per_customer
    lines = rng.integers(1, TPCH_MAX_LINES + 1, n_orders)
    cust = np.arange(1, customers + 1, dtype=np.int64)
    supp = np.arange(1, suppliers + 1, dtype=np.int64)
    okeys = np.arange(1, n_orders + 1, dtype=np.int64)
    return {
        "nation": {
            "n_nationkey": np.arange(TPCH_NATIONS, dtype=np.int32),
            "n_name": np.array([f"NATION#{i:02d}" for i in range(TPCH_NATIONS)]),
        },
        "supplier": {
            "s_suppkey": supp,
            "s_name": np.array([f"Supplier#{i:09d}" for i in supp]),
            "s_nationkey": rng.integers(0, TPCH_NATIONS, suppliers).astype(np.int32),
        },
        "customer": {
            "c_custkey": cust,
            "c_name": np.array([f"Customer#{i:09d}" for i in cust]),
            "c_nationkey": rng.integers(0, TPCH_NATIONS, customers).astype(np.int32),
        },
        "orders": {
            "o_orderkey": okeys,
            "o_custkey": rng.integers(1, customers + 1, n_orders),
        },
        "lineitem": {
            "l_orderkey": np.repeat(okeys, lines),
            "l_suppkey": rng.integers(1, suppliers + 1, int(lines.sum())),
        },
    }


def write_tpch(cols: dict[str, dict[str, np.ndarray]], out_dir: str) -> None:
    """One parquet file per table, named as the loader expects."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in cols.items():
        pq.write_table(
            pa.table({c: pa.array(v) for c, v in table.items()}),
            os.path.join(out_dir, f"{name}.parquet"),
        )


def tpch_graph(cols: dict[str, dict[str, np.ndarray]]):
    """The graph the tables encode, derived here in numpy for the oracle:
    (ids, src, dst) in the loader's id space."""
    from personalized_pagerank_algorithms_on_neo4j_spark.sources.tpch_graph import (
        NATION_BASE,
        SUPP_BASE,
    )

    cust = cols["customer"]["c_custkey"]
    supp = cols["supplier"]["s_suppkey"]
    nations = cols["nation"]["n_nationkey"].astype(np.int64)
    # order keys are 1..n_orders, so an order's row is its key - 1
    order_cust = cols["orders"]["o_custkey"][cols["lineitem"]["l_orderkey"] - 1]
    width = int(supp.max()) + 1
    pairs = np.unique(order_cust * width + cols["lineitem"]["l_suppkey"])
    src = np.concatenate(
        [pairs // width, supp + SUPP_BASE, cust]
    ).astype(np.int64)
    dst = np.concatenate(
        [
            pairs % width + SUPP_BASE,
            cols["supplier"]["s_nationkey"] + NATION_BASE,
            cols["customer"]["c_nationkey"] + NATION_BASE,
        ]
    ).astype(np.int64)
    ids = np.concatenate([cust, supp + SUPP_BASE, nations + NATION_BASE])
    return np.sort(ids.astype(np.int64)), src, dst
