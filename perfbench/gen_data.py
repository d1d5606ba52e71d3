"""Inputs of the graft benchmark.

* The query tables are the official sf0.01 test tables (region, nation,
  customer, supplier, part, orders, lineitem, events, documents,
  embeddings; 60,000 lineitem rows), committed under
  ``perfbench/data/sf0.01``, one parquet file per table. Every benchmark
  seed reads the same rows; the seed only permutes the op order.
  ``table_manifest(data_dir)`` records rows, bytes and files per table.
* ``gen_etl(base_dir, out_dir, seed, n_files, tables)`` rewrites some of
  those tables for the ETL workload: the seed permutes the rows and cuts
  them into ``n_files`` files per table at seeded cut points. A different
  seed gives the same multiset of rows in a different order and file
  split; the same seed gives the same bytes. It writes ``manifest.json``
  with rows, bytes and files per table.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq


def _dir_bytes(path):
    if os.path.isfile(path):
        return os.path.getsize(path)
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs)


def table_manifest(data_dir):
    """{table: {rows, bytes, files}} of the one-file tables in `data_dir`."""
    tables = {}
    for name in sorted(os.listdir(data_dir)):
        if name.endswith(".parquet"):
            path = os.path.join(data_dir, name)
            tables[name[:-len(".parquet")]] = {"rows": pq.ParquetFile(path).metadata.num_rows,
                                               "bytes": _dir_bytes(path), "files": 1}
    if not tables:
        raise RuntimeError(f"no query tables under {data_dir}")
    return tables


def gen_etl(base_dir, out_dir, seed, n_files, tables):
    """Seeded rewrite of `tables`: rows permuted, cut into `n_files` files
    whose sizes vary by up to +-40% around an even split, one directory
    per table."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    manifest = {}
    for name in tables:
        tbl = pq.read_table(os.path.join(base_dir, f"{name}.parquet"))
        tbl = tbl.take(pa.array(rng.permutation(tbl.num_rows)))
        k = n_files
        weights = rng.uniform(0.6, 1.4, k)
        bounds = np.round(np.concatenate([[0], np.cumsum(weights)]) / weights.sum() * tbl.num_rows)
        bounds = bounds.astype(np.int64).tolist()
        tdir = os.path.join(out_dir, name)
        os.makedirs(tdir, exist_ok=True)
        for i in range(k):
            pq.write_table(tbl.slice(bounds[i], bounds[i + 1] - bounds[i]),
                           os.path.join(tdir, f"part-{i:05d}.parquet"))
        manifest[name] = {"rows": tbl.num_rows, "bytes": _dir_bytes(tdir), "files": k}
    with open(os.path.join(out_dir, "manifest.json"), "w") as f:
        json.dump({"seed": seed, "tables": manifest}, f, indent=1)
    return manifest
