#!/usr/bin/env python3
"""Materialize a synthetic sf1 directory: the sf0.1 fact tables replicated
k times (default 10) with consistently shifted surrogate keys, dims copied
verbatim (their keys are semantic and every FK must stay resolvable).

Replicated: lineitem (shift l_orderkey), orders (shift o_orderkey only —
o_custkey must keep pointing into the verbatim customer dim), events
(shift event_id; user_id/ts duplicate exactly — every window ordering in
the suite tie-breaks on event_id, so the plans stay deterministic),
documents (shift doc_id; text duplicates exactly, so dedup queries see 10x
duplicate mass — the interesting case), embeddings (shift vec_id; query
vectors vec_id<8 keep their originals in replica 0).

Schemas are preserved bit-for-bit (whatever timestamp layout the source
generation used rides through unchanged).

With --perturb, replicas are ORGANIC rather than clones: embedding
replicas get a deterministic per-(vector, position, replica) jitter at
the 1e-6 quantization level (so they are near- but never exact
duplicates — bucket codes and cluster assignments spread the way a real
corpus grows), and document replicas get a per-replica suffix token (so
exact-dup/minhash mass stops being the k-clones-per-group worst case).
This retires the documented t29/t10/t11 "clone artifact": replication
puts k exact copies in one LSH bucket / dup cluster, inflating pair
counts ~k² — a generator artifact, not an operator property. The
perturbed replica is what the ~linear scaling claim is measured on.

Usage: python3 tools/make_sf1.py [outdir=/tmp/sf1x] [k=10] [--perturb]
"""
import sys
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pyarrow.compute as pc

SRC = "/root/testdata/sf0.1"
args = [a for a in sys.argv[1:] if a != "--perturb"]
PERTURB = "--perturb" in sys.argv[1:]
OUT = args[0] if len(args) > 0 else "/tmp/sf1x"
K = int(args[1]) if len(args) > 1 else 10

VERBATIM = ["region", "nation", "customer", "supplier", "part"]
SHIFT = {  # table -> columns whose key space is replicated
    "lineitem": ["l_orderkey"],
    "orders": ["o_orderkey"],
    "events": ["event_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}

import os
os.makedirs(OUT, exist_ok=True)

for t in VERBATIM:
    tab = pq.read_table(f"{SRC}/{t}.parquet")
    pq.write_table(tab, f"{OUT}/{t}.parquet")
    print(f"{t}: {tab.num_rows} rows (verbatim)")

for t, keys in SHIFT.items():
    tab = pq.read_table(f"{SRC}/{t}.parquet")
    shift = {k: pc.max(tab.column(k)).as_py() + 1 for k in keys}
    parts = []
    for i in range(K):
        rep = tab
        for k in keys:
            col = pc.add(rep.column(k), i * shift[k])
            rep = rep.set_column(rep.schema.get_field_index(k), k, col)
        if t == "events":
            # replica i shifts ts by +i µs: real event streams have no
            # exact-duplicate (user, ts) pairs, and verbatim copies would
            # make every as-of/window tie engine-arbitrary (the one red of
            # the first sf1 gate). +9 µs max is far inside every measured
            # margin (second boundaries >=2.3 ms, session gaps >=662 s).
            idx = rep.schema.get_field_index("ts")
            ts = pc.add(rep.column("ts").cast(pa.int64()), i)
            rep = rep.set_column(idx, "ts", ts.cast(pa.timestamp("us")))
        if PERTURB and t == "embeddings" and i > 0:
            # near-but-not-exact duplicates: jitter each component at the
            # 1e-6 quant level with a deterministic integer pattern,
            # ((vec_id % 97) * 131 + pos * 17 + i * 53) % 401 - 200
            idx = rep.schema.get_field_index("embedding")
            emb = rep.column("embedding").combine_chunks()
            vals = emb.values.to_numpy(zero_copy_only=False).astype(np.float64)
            offs = emb.offsets.to_numpy()
            vid = rep.column("vec_id").to_numpy()
            pos = np.arange(len(vals)) - np.repeat(offs[:-1], np.diff(offs))
            vrep = np.repeat(vid, np.diff(offs))
            jit = ((vrep % 97) * 131 + pos * 17 + i * 53) % 401 - 200
            vals = vals + jit * 1e-6
            new = pa.ListArray.from_arrays(
                emb.offsets, pa.array(vals, type=pa.float32()))
            rep = rep.set_column(idx, "embedding", new)
        if PERTURB and t == "documents" and i > 0:
            # break exact-clone groups: a per-replica suffix token keeps
            # the text near-duplicate (minhash/simhash-close) but changes
            # every exact hash/fingerprint
            idx = rep.schema.get_field_index("text")
            tag = pa.array([f"r{i}"] * rep.num_rows, type=pa.string())
            suffix = pc.binary_join_element_wise(
                pc.cast(rep.column("text"), pa.string()), tag, " ")
            rep = rep.set_column(idx, "text", suffix)
        parts.append(rep)
    big = pa.concat_tables(parts)
    pq.write_table(big, f"{OUT}/{t}.parquet")
    print(f"{t}: {tab.num_rows} -> {big.num_rows} rows (x{K}, shift {shift})")
