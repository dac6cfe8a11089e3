"""Property checks for the registry rows that have no DuckDB oracle.

Each check recomputes, from the input files (and, for the pipelines, the
Measurement Set the program wrote) with numpy/pyarrow, a property the
method's output must have. The constants are the fixtures' documented
geometry in the program's sources: queries/CalibrationQ.scala (g06),
queries/PipelineQ.scala (p01, p02 imaging field and sources) and
pipelines/SelfCalPipeline.scala (p04 phase screen, solution interval).
Each check returns None when the property holds, else the reason.
"""
import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq


def _event_ns(data_dir):
    ts = pq.read_table(f"{data_dir}/events.parquet", columns=["ts"]).column("ts")
    return pc.cast(pc.cast(ts, pa.timestamp("ns")), pa.int64()).to_numpy()


def _phase(idx, ant):
    """The injected phase screen: (idx * 7 + ant * 3) % 11 * 0.05."""
    return (idx * 7 + ant * 3) % 11 * 5e-2


def _wrap(x):
    return np.angle(np.exp(1j * x))


def s07(df, data_dir, ms_dir):
    ns = _event_ns(data_dir)
    sub = ns % 1000
    want = {"n": len(ns), "min_subus": int(sub.min()), "max_subus": int(sub.max()),
            "n_us_exact": int((sub == 0).sum())}
    got = df.iloc[0].to_dict() if len(df) == 1 else {}
    return None if {k: int(got.get(k, -1)) for k in want} == want \
        else f"{got} != {want}"


def s08(df, data_dir, ms_dir):
    want = np.unique(_event_ns(data_dir) % 1_000_000_000)
    got = np.sort(df["sub_s_ns"].to_numpy())
    if len(got) != len(want):
        return f"{len(got)} distinct residues != {len(want)}"
    return None if (got == want).all() else "residue sets differ"


G06_TOL = 0.05


def g06(df, data_dir, ms_dir):
    """Solved phases equal the generating phases up to one gauge phase per
    time, within G06_TOL rad (the row runs 15 solver iterations; measured
    agreement 0.012 rad, where the generating phases span 0.5 rad).
    Antennas the solve never moved keep their starting phase of exactly 0
    and carry no information; every time needs at least two solved ones."""
    t, a, ph = df["time_index"].to_numpy(), df["ant"].to_numpy(), df["phase"].to_numpy()
    d = _wrap(ph - _phase(t, a))
    worst = 0.0
    for ti in np.unique(t):
        dt = d[(t == ti) & (ph != 0.0)]
        if len(dt) < 2:
            return f"time {ti}: fewer than two solved antennas"
        worst = max(worst, float(np.abs(_wrap(dt - dt[0])).max()))
    return None if len(df) and worst < G06_TOL else \
        f"phase residual {worst:.3g} rad over {len(df)} rows"


def p01(df, data_dir, ms_dir):
    """MODEL_DATA has one row per MAIN row and channel, all values finite."""
    main = pq.read_table(f"{ms_dir}/MAIN.parquet", columns=["row_id"]).num_rows
    nchan = sum(pq.read_table(f"{ms_dir}/SPECTRAL_WINDOW.parquet",
                              columns=["NUM_CHAN"]).column(0).to_pylist())
    if len(df) != main * nchan:
        return f"{len(df)} rows != MAIN {main} x {nchan} channels"
    if len(df[["row_id", "chan"]].drop_duplicates()) != len(df):
        return "duplicate (row_id, chan)"
    vals = df[[c for c in df.columns if c.endswith(("_re", "_im"))]].to_numpy()
    return None if vals.shape[1] == 8 and np.isfinite(vals).all() else "non-finite values"


# p02: 48x48 field, cell 1/48, sources at (x, y, flux), l = (x - 24) / 48
P02_SOURCES = [(33, 15, 3.0), (9, 38, 2.0), (22, 22, 1.0)]


def p02(df, data_dir, ms_dir):
    """Residual visibility power is below the input visibility power; the
    input is the exact DFT of the field's three point sources."""
    pu, pv = df["pu"].to_numpy(), df["pv"].to_numpy()
    vis = sum(f * np.exp(-2j * np.pi * (pu * (x - 24) / 48 + pv * (y - 24) / 48))
              for x, y, f in P02_SOURCES)
    p_in = float((np.abs(vis) ** 2).sum())
    p_res = float((df["re"].to_numpy() ** 2 + df["im"].to_numpy() ** 2).sum())
    return None if len(df) and p_res < p_in else f"residual power {p_res:.4g} >= input {p_in:.4g}"


SOLINT = 64


def p04(df, data_dir, ms_dir):
    """The corrected residual's power is below the uncorrected residual's.
    Model m = c - res; the uncorrected residual is m (e^{i dphi} - 1) with
    the injected screen over (rank(TIME) div 64, antenna)."""
    main = pq.read_table(f"{ms_dir}/MAIN.parquet",
                         columns=["row_id", "TIME", "ANTENNA1", "ANTENNA2"]).to_pandas()
    times = np.unique(main["TIME"].to_numpy())
    main["sidx"] = np.searchsorted(times, main["TIME"].to_numpy()) // SOLINT
    j = df.merge(main, on="row_id", how="left")
    if j["sidx"].isna().any():
        return "rows without a MAIN row"
    dphi = _phase(j["sidx"].to_numpy(), j["ANTENNA1"].to_numpy()) - \
        _phase(j["sidx"].to_numpy(), j["ANTENNA2"].to_numpy())
    model = (j["c_re"] - j["res_re"]).to_numpy() + 1j * (j["c_im"] - j["res_im"]).to_numpy()
    p_unc = float((np.abs(model * (np.exp(1j * dphi) - 1)) ** 2).sum())
    p_cor = float((j["res_re"] ** 2 + j["res_im"] ** 2).sum())
    return None if len(df) and p_cor < p_unc else \
        f"corrected residual power {p_cor:.4g} >= uncorrected {p_unc:.4g}"


CHECKS = {"s07_ts_probe": s07, "s08_ts_residues": s08, "g06_gauss_newton": g06,
          "p01_predict_pipeline": p01, "p02_imaging_pipeline": p02,
          "p04_selfcal_pipeline": p04}


def check(q, df, data_dir, ms_dir):
    if q not in CHECKS:
        return "no oracle and no property check"
    return CHECKS[q](df, data_dir, ms_dir)
