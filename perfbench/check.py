"""Output checks for one benchmark run.

Oracle rows: the program's parquet output is compared with DuckDB's
evaluation of `SparkEntry.oracleSql` over the same parquet files, under
the byte-level rules of the repository's `tools/strictcheck.py`: every
oracle column must have a BIGINT/DOUBLE/VARCHAR/BOOLEAN/DATE-class DuckDB
type, both sides must agree on column names, row count and dtype class
(int / float / bool / other) per column, floats must agree bit for bit
(so -0.0 differs from +0.0; NaN equals NaN), ints exactly, everything else
by type name and value. Both sides are reduced to a digest of their
canonical form (columns sorted by name, rows sorted), so DuckDB answers
are cached by SQL text and input-file fingerprint and never recomputed
for unchanged inputs.

noOracle rows: a property the method must have, computed from the input
files and the program's output with numpy/pyarrow, apart from the program.
"""
import hashlib
import json
import math
import os
import re

import duckdb
import numpy as np
import pyarrow.compute as pc
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
OK_DUCK_TYPES = {"BIGINT", "DOUBLE", "VARCHAR", "BOOLEAN", "DATE",
                 "INTEGER", "FLOAT", "TIMESTAMP"}


def dtype_class(dt):
    s = str(dt)
    if s.startswith(("int", "uint")):
        return "int"
    if s.startswith("float"):
        return "float"
    return "bool" if s == "bool" else "other"


def _cell(x):
    if x is None or (isinstance(x, float) and math.isnan(x)):
        return "\0"
    if isinstance(x, np.ndarray):
        return "list:" + repr(x.tolist())
    if isinstance(x, (int, np.integer)) and not isinstance(x, bool):
        return "int:" + str(int(x))
    return type(x).__name__ + ":" + str(x)


def summary(df):
    """(columns, dtype classes, rows, digest) of a frame's canonical form."""
    cols = sorted(df.columns)
    df = df[cols]
    if len(df) and cols:
        df = df.sort_values(by=cols, kind="mergesort").reset_index(drop=True)
    classes = [dtype_class(df[c].dtype) for c in cols]
    h = hashlib.sha256()
    for c, cls in zip(cols, classes):
        h.update(f"|{c}|{cls}|".encode())
        if cls == "float":
            v = df[c].to_numpy(dtype=np.float64, copy=True)
            v[np.isnan(v)] = np.nan
            h.update(v.tobytes())
        elif cls in ("int", "bool"):
            h.update(df[c].to_numpy().astype(np.int64).tobytes())
        else:
            h.update("\x1f".join(_cell(x) for x in df[c].to_numpy(dtype=object)).encode())
    return cols, classes, len(df), h.hexdigest()


def _fingerprint(path):
    h = hashlib.sha256()
    with open(path, "rb") as f:
        for b in iter(lambda: f.read(1 << 20), b""):
            h.update(b)
    return h.hexdigest()


class Oracle:
    """DuckDB over one data directory, with a persistent answer cache."""

    def __init__(self, data_dir, cache_file):
        self.data_dir = data_dir
        self.cache_file = cache_file
        self.con = duckdb.connect()
        self.con.execute("SET threads TO 2")
        self.fp = {}
        for t in TABLES:
            p = f"{data_dir}/{t}.parquet"
            if os.path.exists(p):
                self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
                self.fp[t] = _fingerprint(p)
        try:
            with open(cache_file) as f:
                self.cache = json.load(f)
        except (OSError, ValueError):
            self.cache = {}
        self.dirty = False

    def answer(self, sql):
        used = sorted(t for t in self.fp if re.search(rf"\b{t}\b", sql))
        key = hashlib.sha256(
            (sql + "".join(f"|{t}={self.fp[t]}" for t in used)).encode()).hexdigest()
        if key not in self.cache:
            types = [str(t) for t in self.con.sql(sql).types]
            bad = [t for t in types if t.split("(")[0] not in OK_DUCK_TYPES]
            cols, classes, rows, dig = summary(self.con.execute(sql).fetchdf())
            self.cache[key] = {"bad_types": bad, "columns": cols,
                               "classes": classes, "rows": rows, "digest": dig}
            self.dirty = True
        return self.cache[key]

    def save(self):
        if self.dirty:
            tmp = self.cache_file + ".tmp"
            with open(tmp, "w") as f:
                json.dump(self.cache, f)
            os.replace(tmp, self.cache_file)

    def read_output(self, out_dir):
        return self.con.execute(
            f"SELECT * FROM read_parquet('{out_dir}/*.parquet')").fetchdf()

    def compare(self, sql, out_dir):
        """None when the output matches the oracle, else the reason."""
        exp = self.answer(sql)
        if exp["bad_types"]:
            return f"oracle DuckDB types {exp['bad_types']}"
        cols, classes, rows, dig = summary(self.read_output(out_dir))
        if cols != exp["columns"]:
            return f"columns {cols} != {exp['columns']}"
        if rows != exp["rows"]:
            return f"rows {rows} != {exp['rows']}"
        if classes != exp["classes"]:
            return f"dtype classes {classes} != {exp['classes']}"
        if dig != exp["digest"]:
            return "values differ at byte level"
        return None
