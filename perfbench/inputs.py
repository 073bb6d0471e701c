"""Seeded inputs for the benchmark workloads, written to parquet under
the run's own directory at the start of each run.

* ``link`` — a synthetic docs table from ``abecto_spark.sources.docs``
  plus its ground-truth entity table (for link precision/recall).
* ``graph_loops`` — a TPC-H-shaped table set (region, nation, supplier,
  customer, lineitem), with only the columns the graph-loop queries
  read, at the 0.01 scale factor's row counts.

Oracle hashes for ``graph_loops`` come from DuckDB running the repo's
``ORACLES`` SQL in a separate process
(``python3 inputs.py oracles SF_DIR OUT_JSON NAME...``), so the
oracle's memory never lands in the timed process.
"""

from __future__ import annotations

import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# graph_loops table sizes (the sf0.01 shape: ~60k lineitems over 2k parts,
# so the k=15 core is a real peel and every loop runs several rounds)
N_NATIONS = 25
N_REGIONS = 5
N_SUPPLIERS = 100
N_CUSTOMERS = 1_500
N_ORDERS = 15_000
N_PARTS = 2_000
GRAPH_TABLES = ("region", "nation", "supplier", "customer", "lineitem")


def write_graph_tables(out_dir: str, seed: int) -> None:
    """TPC-H-shaped tables for the graph-loop queries."""
    rng = np.random.RandomState(seed)

    region = pa.table({
        "r_regionkey": pa.array(np.arange(N_REGIONS, dtype=np.int32)),
        "r_name": [f"REGION{i}" for i in range(N_REGIONS)],
    })
    nation = pa.table({
        "n_nationkey": pa.array(np.arange(N_NATIONS, dtype=np.int32)),
        "n_name": [f"NATION{i}" for i in range(N_NATIONS)],
        "n_regionkey": pa.array(rng.randint(0, N_REGIONS, N_NATIONS).astype(np.int32)),
    })
    supplier = pa.table({
        "s_suppkey": pa.array(np.arange(1, N_SUPPLIERS + 1, dtype=np.int64)),
        "s_nationkey": pa.array(rng.randint(0, N_NATIONS, N_SUPPLIERS).astype(np.int32)),
    })
    customer = pa.table({
        "c_custkey": pa.array(np.arange(1, N_CUSTOMERS + 1, dtype=np.int64)),
        "c_nationkey": pa.array(rng.randint(0, N_NATIONS, N_CUSTOMERS).astype(np.int32)),
    })
    # 1-7 lines per order (TPC-H); part popularity falls off toward high
    # keys (density ~ 1/sqrt), so the rarest parts sit below the k=15 core
    # and the peel removes ~2% of nodes over several rounds, as on the
    # repo's sf0.01 test data
    lines = rng.randint(1, 8, N_ORDERS)
    orderkey = np.repeat(np.arange(1, N_ORDERS + 1, dtype=np.int64), lines)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    linenumber = (np.arange(len(orderkey)) - starts + 1).astype(np.int32)
    partkey = (N_PARTS * rng.random_sample(len(orderkey)) ** 2).astype(np.int64) + 1
    lineitem = pa.table({
        "l_orderkey": pa.array(orderkey),
        "l_partkey": pa.array(partkey),
        "l_linenumber": pa.array(linenumber),
    })
    for name, table in zip(GRAPH_TABLES, (region, nation, supplier, customer, lineitem)):
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def write_docs(spark, out_dir: str, seed: int, n_docs: int, n_entities: int) -> None:
    """The docs table and its ground truth, generated by the program's own
    seeded generator and written to parquet."""
    from abecto_spark.sources.docs import synth_docs, true_links

    synth_docs(
        spark, n_docs=n_docs, n_entities=n_entities, seed=seed, partitions=4
    ).write.mode("overwrite").parquet(os.path.join(out_dir, "docs"))
    true_links(
        spark, n_docs, n_entities=n_entities, seed=seed
    ).coalesce(1).write.mode("overwrite").parquet(os.path.join(out_dir, "truth"))


def oracle_hashes(sf_dir: str, names: list[str]) -> dict[str, dict]:
    """Row count and ``check_oracles.frame_hash`` of each query's DuckDB
    oracle over the tables in ``sf_dir``."""
    import duckdb

    sys.path.insert(0, os.path.join(REPO, "scripts"))
    sys.path.insert(0, REPO)
    from check_oracles import frame_hash

    from abecto_spark.plans.entry_queries import ORACLES

    con = duckdb.connect()
    con.execute("SET threads=1")  # runs beside the warm-up
    con.execute("SET memory_limit='3GB'")
    for t in GRAPH_TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    out = {}
    for name in names:
        cur = con.execute(ORACLES[name])
        cols = [d[0] for d in cur.description]
        rows = cur.fetchall()
        out[name] = {"rows": len(rows), "hash": frame_hash(cols, rows)}
    return out


if __name__ == "__main__":
    # python3 inputs.py oracles SF_DIR OUT_JSON NAME...
    if len(sys.argv) < 5 or sys.argv[1] != "oracles":
        sys.exit("usage: inputs.py oracles SF_DIR OUT_JSON NAME...")
    result = oracle_hashes(sys.argv[2], sys.argv[4:])
    with open(sys.argv[3], "w") as fh:
        json.dump(result, fh, indent=1, sort_keys=True)
