#!/usr/bin/env python3
"""Steadiness command: run one workload several times, one seed each.

    python3 perfbench/steady.py --workload <name> --runs 10 [--seed0 1] [--seconds 15] [--trace 0]

Prints every run's wall time, its calibration probe at start and end (a
fixed-work reference figure, the shape of graft.Bench's calib()), and its
metrics; then, per metric, the median, the quartiles as
statistics.quantiles(values, n=4) gives them, the interquartile spread as
a share of the median, and min/max. The records are also written to
perfbench/.out/steady/.
"""
import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seed0", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=15)
    ap.add_argument("--trace", type=int, default=0)
    a = ap.parse_args()
    runs = []
    for i in range(a.runs):
        seed = a.seed0 + i
        t0 = time.perf_counter()
        p = subprocess.run([sys.executable, str(HERE / "run.py"), "--workload", a.workload,
                            "--seed", str(seed), "--seconds", str(a.seconds),
                            "--trace", str(a.trace)],
                           cwd=HERE.parent, capture_output=True, text=True)
        wall = time.perf_counter() - t0
        lines = p.stdout.strip().splitlines()
        if p.returncode != 0 or len(lines) < 2:
            print(f"seed {seed}: exit {p.returncode}\n{p.stderr[-2000:]}", file=sys.stderr)
            sys.exit(1)
        calib, res = json.loads(lines[-2]), json.loads(lines[-1])
        detail = json.loads((HERE / ".out" / "work" / a.workload / "result.json").read_text())
        runs.append({"seed": seed, "wall_s": wall, **calib, **res, "result": detail})
        print(f"seed {seed}: wall {wall:.1f} s, calib {calib['calib_start_s']:.3f}/"
              f"{calib['calib_end_s']:.3f} s, correct {res['correct']}, "
              f"failed {res['failed']}/{res['attempted']}, " +
              ", ".join(f"{k} {v['value']:.4g}" for k, v in res["metrics"].items()),
              flush=True)
    print(f"\n{a.workload}: {a.runs} runs, seeds {a.seed0}..{a.seed0 + a.runs - 1}")
    print(f"{'metric':28s} {'median':>10s} {'q1':>10s} {'q3':>10s} {'iqr/med':>8s} "
          f"{'min':>10s} {'max':>10s}")
    series = {k: [r["metrics"][k]["value"] for r in runs] for k in runs[0]["metrics"]}
    series["calib_start_s"] = [r["calib_start_s"] for r in runs]
    series["calib_end_s"] = [r["calib_end_s"] for r in runs]
    series["run_wall_s"] = [r["wall_s"] for r in runs]
    for k, v in series.items():
        med = statistics.median(v)
        q1, _, q3 = statistics.quantiles(v, n=4) if len(v) > 1 else (v[0], 0, v[0])
        spread = (q3 - q1) / med if med else 0.0
        print(f"{k:28s} {med:10.4g} {q1:10.4g} {q3:10.4g} {spread:8.2%} "
              f"{min(v):10.4g} {max(v):10.4g}")
    out = HERE / ".out" / "steady"
    out.mkdir(parents=True, exist_ok=True)
    f = out / f"{a.workload}-trace{a.trace}-{time.strftime('%Y%m%d-%H%M%S')}.json"
    f.write_text(json.dumps(runs, indent=1))


if __name__ == "__main__":
    main()
