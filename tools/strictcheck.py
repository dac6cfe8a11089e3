#!/usr/bin/env python3
"""Strict mimic of the driver's correctness gate.

Usage: python3 tools/strictcheck.py <verify_out_dir> <sf_dir>

A NUMERIC compare of the values is blind to two divergence classes that a
byte/repr-level driver hash sees:

  1. TYPE divergence: DuckDB types window/plain SUM(BIGINT) as HUGEINT and
     bare decimal literals as DECIMAL; pandas renders those as float64 (or
     object), so `3` (int64, Spark) vs `3.0` (float64, oracle) compares
     equal numerically but hashes differently. Proven root cause of the
     4-round s02 red (uncast `SUM(new_s) OVER (...)` session_id).
  2. SIGNED-ZERO divergence: DuckDB's std::round(-1e-9) returns -0.0 and
     keeps it through `/ 1e4`; Spark's round() goes through BigDecimal,
     which has no negative zero, and emits +0.0. `-0.0 == 0.0` is True, so
     a numeric compare passes while a byte hash fails. Candidate root cause
     of the x09/r15-class reds.

This checker therefore compares, per query:
  * the DuckDB RESULT SCHEMA of the oracle SQL: every column must be a
    BIGINT/DOUBLE/VARCHAR/BOOLEAN/DATE-class type (no HUGEINT, DECIMAL,
    or other types pandas may render asymmetrically), and its pandas dtype
    must match the Spark parquet dtype class (int vs float vs other);
  * every cell at repr level: floats must be bit-compatible (equal AND
    same zero sign; NaN==NaN allowed), ints exactly equal, everything else
    by string equality.
"""
import sys, json, glob, math
import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

OK_DUCK_TYPES = {"BIGINT", "DOUBLE", "VARCHAR", "BOOLEAN", "DATE",
                 "INTEGER", "FLOAT", "TIMESTAMP"}

def canon(df):
    df = df[sorted(df.columns)]
    df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)
    return df

def dtype_class(dt):
    s = str(dt)
    if s.startswith("int") or s.startswith("uint"):
        return "int"
    if s.startswith("float"):
        return "float"
    if s == "bool":
        return "bool"
    return "other"

def cell_bad(a, b):
    """Return a reason string if cells would hash differently, else None."""
    an = a is None or (isinstance(a, float) and math.isnan(a))
    bn = b is None or (isinstance(b, float) and math.isnan(b))
    if an or bn:
        return None if an == bn else f"null-mismatch {a!r} vs {b!r}"
    if isinstance(a, float) or isinstance(b, float):
        if not (isinstance(a, float) and isinstance(b, float)):
            return f"float-vs-nonfloat {a!r} ({type(a).__name__}) vs {b!r} ({type(b).__name__})"
        if a != b:
            return f"value {a!r} != {b!r}"
        if a == 0.0 and math.copysign(1.0, a) != math.copysign(1.0, b):
            return f"zero-sign {math.copysign(1,a):+.0f}0.0 vs {math.copysign(1,b):+.0f}0.0"
        return None
    if type(a) is not type(b) and not (isinstance(a, (int,)) and isinstance(b, (int,))):
        return f"type {type(a).__name__} vs {type(b).__name__} ({a!r} vs {b!r})"
    if a != b:
        return f"value {a!r} != {b!r}"
    return None

def frame_bad(got, exp):
    """Vectorized equivalent of the per-cell loop for LARGE frames (the
    50x/100x scale gates put multi-million-row outputs through this
    checker; the per-cell Python loop is ~10 us/cell). Same semantics:
    floats must be value-equal with matching NaN masks AND matching zero
    signs; ints exactly equal; everything else null-aware repr equality.
    Returns a column-level reason string, or None."""
    import numpy as np
    for c in got.columns:
        g, e = got[c], exp[c]
        cls = dtype_class(g.dtype)
        if cls == "float":
            gv, ev = g.to_numpy(), e.to_numpy()
            gn, en = np.isnan(gv), np.isnan(ev)
            if (gn != en).any():
                return f"col {c}: null-mismatch"
            m = ~gn
            if (gv[m] != ev[m]).any():
                i = np.nonzero(gv[m] != ev[m])[0][0]
                return f"col {c}: value {gv[m][i]!r} != {ev[m][i]!r}"
            z = np.zeros_like(gn)
            z[m] = gv[m] == 0.0
            if (np.signbit(gv[z]) != np.signbit(ev[z])).any():
                return f"col {c}: zero-sign"
        elif cls in ("int", "bool"):
            gv, ev = g.to_numpy(), e.to_numpy()
            if (gv != ev).any():
                i = np.nonzero(gv != ev)[0][0]
                return f"col {c}: value {gv[i]!r} != {ev[i]!r}"
        else:
            # Object columns: vectorized CANDIDATE finding (type-name or
            # __eq__ mismatch), then cell_bad delivers the verdict on each
            # candidate — so this path cannot diverge from the per-cell
            # loop (astype(str) previously passed int 1 vs '1' and failed
            # Decimal('3.0') vs Decimal('3.00'), both opposite to cell_bad).
            gn, en = g.isna().to_numpy(), e.isna().to_numpy()
            if (gn != en).any():
                return f"col {c}: null-mismatch"
            gv = g[~gn].to_numpy(dtype=object)
            ev = e[~en].to_numpy(dtype=object)
            tname = np.frompyfunc(lambda x: type(x).__name__, 1, 1)
            cand = np.nonzero((tname(gv) != tname(ev)) | (gv != ev))[0]
            for i in cand:
                r = cell_bad(gv[i], ev[i])
                if r:
                    return f"col {c}: {r}"
    return None


def main():
    # usage: strictcheck.py <outdir> <sfdir> [q1,q2,...]
    # the optional comma-separated filter enables parallel sweeps:
    #   ls out | xargs -n20 -P8 sh -c 'python3 strictcheck.py out sf "$(echo $@|tr " " ,)"' _
    out, sf = sys.argv[1], sys.argv[2]
    only = set(sys.argv[3].split(",")) if len(sys.argv) > 3 else None
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")
    oracle = json.load(open(f"{out}/oracle_sql.json"))
    if only:
        oracle = {k: v for k, v in oracle.items() if k in only}
    n_pass = n_fail = 0
    for name in sorted(oracle):
        files = glob.glob(f"{out}/{name}/*.parquet")
        if not files:
            print(f"FAIL {name}: no spark output"); n_fail += 1; continue
        try:
            # oracle result schema straight from DuckDB, pre-pandas.
            # ONE execution serves description AND data — .description on a
            # separate execute() ran the full query a second time, which
            # doubled the oracle cost exactly where it hurts (the 20x/50x
            # replica gates); .sql(...).types only PLANS, never executes
            rel_types = con.sql(oracle[name]).types
            duck_sql_types = [str(t) for t in rel_types]
            cur = con.execute(oracle[name])
            desc = cur.description
            duck_types = [(c[0], str(c[1])) for c in desc]
            exp = canon(cur.fetchdf())
            got = canon(con.execute(
                f"SELECT * FROM read_parquet({files!r})").fetchdf())
        except Exception as e:
            print(f"FAIL {name}: {e}"); n_fail += 1; continue
        probs = []
        for (cname, _), st in zip(duck_types, duck_sql_types):
            base = st.split("(")[0]
            if base not in OK_DUCK_TYPES:
                probs.append(f"oracle col {cname} has DuckDB type {st}")
        if list(got.columns) != list(exp.columns):
            probs.append(f"columns {list(got.columns)} != {list(exp.columns)}")
        elif len(got) != len(exp):
            probs.append(f"rows {len(got)} != {len(exp)}")
        else:
            for c in got.columns:
                gc, ec = dtype_class(got[c].dtype), dtype_class(exp[c].dtype)
                if gc != ec:
                    probs.append(
                        f"dtype class col {c}: spark {got[c].dtype} vs oracle {exp[c].dtype}")
            if not probs and len(got) > 200_000:
                r = frame_bad(got, exp)
                if r:
                    probs.append(r)
            elif not probs:
                for i in range(len(got)):
                    for c in got.columns:
                        r = cell_bad(got[c].iloc[i], exp[c].iloc[i])
                        if r:
                            probs.append(f"row {i} col {c}: {r}")
                            break
                    if probs:
                        break
        if probs:
            print(f"FAIL {name}: " + "; ".join(probs))
            n_fail += 1
        else:
            print(f"PASS {name} ({len(got)} rows)")
            n_pass += 1
    print(f"== {n_pass} pass / {n_fail} fail ==")
    sys.exit(1 if n_fail else 0)

if __name__ == "__main__":
    main()
