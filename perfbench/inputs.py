"""Benchmark inputs: the vendored sf0.1 tables and the seeded blow-up.

`data/sf0.1` is a copy of the repo's sf0.1 test tables (TESTDATA.md), so
the benchmark reads the same bytes the DuckDB oracle was validated on and
needs nothing outside its checkout.

The `bulk_scaled` input follows the method of BENCH_SCALE_r15.json: the
fact tables (lineitem, orders, events, documents, embeddings) are unioned
k times with their keys offset by c * 10**9 in copy c, and the dimension
tables are copied once. The seed permutes the rows of every copy, so the
same seed always gives byte-identical files and different seeds give the
same rows in a different physical order.
"""
import os
import shutil
import time

HERE = os.path.dirname(os.path.abspath(__file__))
SF01 = os.path.join(HERE, "data", "sf0.1")
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
FACT_KEYS = {"lineitem": "l_orderkey", "orders": "o_orderkey",
             "events": "event_id", "documents": "doc_id", "embeddings": "vec_id"}
OFFSET = 10**9
KEEP = 2  # staged blow-ups kept on disk; older ones are deleted


def blow_up(tables, k, seed):
    """k row-permuted copies of each fact table, copy c keyed at +c * 10**9."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc
    rng = np.random.default_rng(seed)
    out = dict(tables)
    for name, key in FACT_KEYS.items():
        base = tables[name]
        copies = []
        for c in range(k):
            t = base.take(pa.array(rng.permutation(base.num_rows)))
            i = t.schema.get_field_index(key)
            copies.append(t.set_column(i, key, pc.add(t[key], pa.scalar(c * OFFSET, pa.int64()))))
        out[name] = pa.concat_tables(copies)
    return out


def stage_bulk(root, seed, k):
    """Stage the (seed, k) blow-up under `root`, reusing a cached copy.
    Returns (directory, seconds spent staging)."""
    import pyarrow.parquet as pq
    path = os.path.join(root, f"bulk-s{seed}-k{k}")
    t0 = time.monotonic()
    if not os.path.isdir(path):
        tables = {n: pq.read_table(os.path.join(SF01, f"{n}.parquet")) for n in TABLES}
        big = blow_up(tables, k, seed)
        tmp = path + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        for n in TABLES:
            pq.write_table(big[n], os.path.join(tmp, f"{n}.parquet"), compression="snappy")
        os.replace(tmp, path)
    os.utime(path)
    cached = sorted((d for d in os.listdir(root) if d.startswith("bulk-") and not d.endswith(".tmp")),
                    key=lambda d: os.path.getmtime(os.path.join(root, d)), reverse=True)
    for d in cached[KEEP:]:
        shutil.rmtree(os.path.join(root, d), ignore_errors=True)
    return path, time.monotonic() - t0
