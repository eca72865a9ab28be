#!/usr/bin/env python
"""Generate the sf1-SHAPED smoke dataset used by the r6 robustness check
(OPTIMIZATION_r06.md "sf1-shape robustness smoke").

NOT driver data and NOT used by any timed number: /root/testdata is
read-only driver-generated input; this script only reproduces the
10x-row dataset the frozen bench.py was smoke-run against to verify the
engine completes cleanly beyond sf0.1 (the driver's measurement may use
a larger generated SF). Schemas and key patterns match the sf0.1
tables; filler columns are random because every bench geometry derives
from the integer keys alone (queries.py PX/PY/RA/RB/QA/QB formulas).
Note the fixed geometry-size formulas make join DENSITY grow ~10x with
the keyspace too, so this shape is harsher than a true TPC-H sf1.

Usage: python bench/gen_sfbig.py [outdir]   (default /tmp/sfbig)
Then:  SPARK_GRAFT_SF_DIR=<outdir> SPARK_GRAFT_CPUS=32 \
       SPARK_GRAFT_REPEAT=1 SPARK_GRAFT_WARMUP=0 python bench.py
"""

import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# the sf0.1 tables this one borrows from (embedding dim, small tables)
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    out = sys.argv[1] if len(sys.argv) > 1 else "/tmp/sfbig"
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(7)

    def write(name, tbl):
        pq.write_table(tbl, f"{out}/{name}.parquet")
        print(name, tbl.num_rows)

    n_cust = 150_000
    write("customer", pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": pa.array([f"Customer#{i}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": pa.array(rng.uniform(-999, 9999, n_cust)),
        "c_mktsegment": pa.array(np.take(np.array(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "MACHINERY",
             "HOUSEHOLD"]), rng.integers(0, 5, n_cust))),
    }))
    n_sup = 10_000
    write("supplier", pa.table({
        "s_suppkey": pa.array(np.arange(n_sup), pa.int64()),
        "s_name": pa.array([f"Supplier#{i}" for i in range(n_sup)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_sup), pa.int32()),
        "s_acctbal": pa.array(rng.uniform(-999, 9999, n_sup)),
    }))
    n_part = 200_000
    write("part", pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": pa.array([f"part {i}" for i in range(n_part)]),
        "p_brand": pa.array([f"Brand#{i % 50}" for i in range(n_part)]),
        "p_type": pa.array([f"type {i % 30}" for i in range(n_part)]),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": pa.array(rng.uniform(900, 2000, n_part)),
    }))
    n_ord, per = 1_500_000, 4
    ok = np.repeat(np.arange(n_ord, dtype=np.int64), per)
    ln = np.tile(np.arange(1, per + 1, dtype=np.int32), n_ord)
    n_li = len(ok)
    write("lineitem", pa.table({
        "l_orderkey": pa.array(ok),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_sup, n_li), pa.int64()),
        "l_linenumber": pa.array(ln),
        "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(float)),
        "l_extendedprice": pa.array(rng.uniform(1000, 100000, n_li)),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
        "l_returnflag": pa.array(np.take(np.array(["R", "A", "N"]),
                                         rng.integers(0, 3, n_li))),
        "l_linestatus": pa.array(np.take(np.array(["O", "F"]),
                                         rng.integers(0, 2, n_li))),
        "l_shipdate": pa.array(
            np.datetime64("1995-01-01", "us")
            + rng.integers(0, 2500, n_li) * np.timedelta64(86400_000_000, "us")),
    }))
    # embeddings at the sf0.1 dim (bench.py computes ANN recalls)
    ref = pq.read_table(f"{SF_DIR}/embeddings.parquet")
    dim = len(ref["embedding"][0])
    n_emb = 20_000
    emb = rng.standard_normal((n_emb, dim)).astype(np.float32)
    write("embeddings", pa.table({
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(emb)),
        "label": pa.array(rng.integers(0, 20, n_emb), pa.int32()),
    }))
    # tables bench.py never reads at size: symlink the sf0.1 copies
    for t in ["nation", "region", "orders", "events", "documents"]:
        dst = f"{out}/{t}.parquet"
        if not os.path.exists(dst):
            os.symlink(f"{SF_DIR}/{t}.parquet", dst)
    print("done; embedding dim =", dim)


if __name__ == "__main__":
    main()
