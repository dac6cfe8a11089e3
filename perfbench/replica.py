"""Seeded, perturbed k-times replica of the committed sf0.01 tables.

The scheme of the repository's `tools/make_sf1.py --perturb`: dimension
tables are copied verbatim, fact tables are replicated k times with their
surrogate keys shifted past the source maximum, replica i shifts event
timestamps by +i microseconds, document replicas i > 0 get a suffix token
"r<i>", and embedding replicas i > 0 get a jitter at the 1e-6 quantisation
level. Here the jitter comes from a generator seeded by `seed`, so the same
seed gives byte-identical tables and another seed gives another corpus.
"""
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

VERBATIM = ["region", "nation", "customer", "supplier", "part"]
SHIFT = {
    "lineitem": "l_orderkey",
    "orders": "o_orderkey",
    "events": "event_id",
    "documents": "doc_id",
    "embeddings": "vec_id",
}


def _set(tab, name, col):
    return tab.set_column(tab.schema.get_field_index(name), name, col)


def make(src, out, k, seed):
    """Write the replica to `out`; return {table: rows}."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    rows = {}
    for t in VERBATIM:
        tab = pq.read_table(f"{src}/{t}.parquet")
        pq.write_table(tab, f"{out}/{t}.parquet")
        rows[t] = tab.num_rows
    for t, key in SHIFT.items():
        tab = pq.read_table(f"{src}/{t}.parquet")
        shift = pc.max(tab.column(key)).as_py() + 1
        parts = []
        for i in range(k):
            rep = _set(tab, key, pc.add(tab.column(key), i * shift))
            if t == "events":
                ts = rep.column("ts")
                moved = pc.add(ts.cast(pa.int64()), i).cast(ts.type)
                rep = _set(rep, "ts", moved)
            if t == "documents" and i > 0:
                tag = pa.array([f"r{i}"] * rep.num_rows, type=pa.string())
                text = pc.binary_join_element_wise(
                    pc.cast(rep.column("text"), pa.string()), tag, " ")
                rep = _set(rep, "text", text)
            if t == "embeddings" and i > 0:
                emb = rep.column("embedding").combine_chunks()
                vals = emb.values.to_numpy(zero_copy_only=False).astype(np.float64)
                vals += rng.integers(-200, 201, size=len(vals)) * 1e-6
                rep = _set(rep, "embedding", pa.ListArray.from_arrays(
                    emb.offsets, pa.array(vals, type=pa.float32())))
            parts.append(rep)
        big = pa.concat_tables(parts)
        pq.write_table(big, f"{out}/{t}.parquet")
        rows[t] = big.num_rows
    return rows


def copy(src, out):
    """The unreplicated tables, byte for byte; return {table: rows}."""
    os.makedirs(out, exist_ok=True)
    rows = {}
    for f in sorted(os.listdir(src)):
        shutil.copyfile(f"{src}/{f}", f"{out}/{f}")
        rows[f.removesuffix(".parquet")] = pq.read_metadata(f"{out}/{f}").num_rows
    return rows
