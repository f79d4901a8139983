"""Seeded workload inputs.

Every table of the source dataset is rewritten with the same row set in
a seed-driven order, split over a seed-driven number of row groups. The
file count is fixed, one file per core of the benchmark's local[4]: it
sets scan parallelism, which would otherwise differ between seeds by
more than any change the benchmark is meant to see. Keys are left
alone: some queries plant structure by key.
"""
import os

import numpy as np
import pyarrow.parquet as pq

TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()
FILES = 4


def generate(src, dst, seed, tables=TABLES):
    """Write each of `tables` as `<dst>/<table>.parquet/part-NNNNN.parquet`.

    Returns {table: {"rows": n, "bytes": on-disk bytes}}, plus the UTF-8
    byte count of documents.text under the key "text_bytes" when it is
    among them.
    """
    stats = {}
    for name in tables:
        rng = np.random.default_rng([seed, TABLES.index(name)])
        table = pq.read_table(os.path.join(src, f"{name}.parquet"))
        n = table.num_rows
        table = table.take(rng.permutation(n))
        n_files = FILES if n >= 1000 else 1
        out = os.path.join(dst, f"{name}.parquet")
        os.makedirs(out)
        bounds = np.linspace(0, n, n_files + 1).astype(int)
        for i in range(n_files):
            part = table.slice(bounds[i], bounds[i + 1] - bounds[i])
            groups = int(rng.integers(1, 5))
            pq.write_table(part, os.path.join(out, f"part-{i:05d}.parquet"),
                           compression="snappy",
                           row_group_size=max(1, -(-part.num_rows // groups)))
        size = sum(os.path.getsize(os.path.join(out, f)) for f in os.listdir(out))
        stats[name] = {"rows": n, "bytes": size}
        if name == "documents":
            stats["text_bytes"] = int(sum(
                len(t.encode("utf-8")) for t in table.column("text").to_pylist() if t))
    return stats
