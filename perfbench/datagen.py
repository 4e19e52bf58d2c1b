"""Seeded input generator.

Seed 0 is the source dataset copied verbatim. A seed s > 0 maps each
surrogate-key domain onto itself through a seeded permutation and applies
it the same way to every primary-key and foreign-key column of that
domain, so joins, group sizes and graph shape are unchanged while the
placement of keys (hash partitions, sort order, which vertex is vertex 0)
moves. Keys stay inside their domain, so literal keys in queries (such as
the PageRank sources 0, 1, 2) still name vertices of the graph.
"""
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

# domain -> (primary-key column, every column holding that domain's keys)
DOMAINS = {
    "region": ("region.r_regionkey", ["region.r_regionkey", "nation.n_regionkey"]),
    "nation": ("nation.n_nationkey", ["nation.n_nationkey", "customer.c_nationkey",
                                      "supplier.s_nationkey"]),
    "customer": ("customer.c_custkey", ["customer.c_custkey", "orders.o_custkey"]),
    "supplier": ("supplier.s_suppkey", ["supplier.s_suppkey", "lineitem.l_suppkey"]),
    "part": ("part.p_partkey", ["part.p_partkey", "lineitem.l_partkey"]),
    "orders": ("orders.o_orderkey", ["orders.o_orderkey", "lineitem.l_orderkey"]),
    "event": ("events.event_id", ["events.event_id"]),
    "user": ("events.user_id", ["events.user_id"]),
    "document": ("documents.doc_id", ["documents.doc_id"]),
    "vector": ("embeddings.vec_id", ["embeddings.vec_id"]),
}

def _write(table, path, like):
    """Write with the source file's layout so the parquet schema
    (physical types, timestamp units, metadata) is identical."""
    src = pq.ParquetFile(like)
    pq.write_table(table, path, compression="snappy",
                   version=src.metadata.format_version)


def permute(src_dir, dst_dir, seed):
    """Write the seed's dataset for `src_dir` into `dst_dir`."""
    os.makedirs(dst_dir, exist_ok=True)
    present = [t for t in TABLES if os.path.exists(f"{src_dir}/{t}.parquet")]
    if seed == 0:
        for t in present:
            shutil.copyfile(f"{src_dir}/{t}.parquet", f"{dst_dir}/{t}.parquet")
        return
    tables = {t: pq.read_table(f"{src_dir}/{t}.parquet") for t in present}
    for i, (domain, (pk, refs)) in enumerate(DOMAINS.items()):
        pt, pcol = pk.split(".")
        if pt not in tables:
            continue
        size = pc.max(tables[pt][pcol]).as_py() + 1
        perm = np.random.default_rng([seed, i]).permutation(size)
        for ref in refs:
            t, c = ref.split(".")
            if t not in tables:
                continue
            col = tables[t][c]
            mapped = pc.take(pa.array(perm).cast(col.type), col)
            idx = tables[t].schema.get_field_index(c)
            tables[t] = tables[t].set_column(idx, tables[t].schema.field(idx), mapped)
    for t, tb in tables.items():
        _write(tb, f"{dst_dir}/{t}.parquet", f"{src_dir}/{t}.parquet")
    check_schemas(src_dir, dst_dir)


def check_schemas(src_dir, dst_dir):
    for t in TABLES:
        a = f"{src_dir}/{t}.parquet"
        if not os.path.exists(a):
            continue
        sa = pq.ParquetFile(a).schema
        sb = pq.ParquetFile(f"{dst_dir}/{t}.parquet").schema
        if not sa.equals(sb):
            raise RuntimeError(f"generated schema of {t} differs from its source")
