#!/usr/bin/env python3
"""Markdown tables for README.md from the last traced run of a workload.

    python3 perfbench/run.py --workload <name> --seed 1 --seconds 15 --trace 1
    python3 perfbench/report.py <name>

Per query (medians over the warm passes): wall time, its split into the
four wall-clock layers, the dominant one, and the jobs started while the
program built the DataFrame (the outside view of a size gate's branch:
driver-resident loops and eager staging run jobs during construction).

Wall-clock split, each a share of the same query wall time:
  construct  driver time outside every job and outside Catalyst's phases
  catalyst   analysis + optimization + planning
  schedule   job wall time not covered by task run time spread over the cores
  exec       task run time / cores
"""
import json
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent


def split(r, cores):
    cat = r["catalyst.analysis_s"] + r["catalyst.optimization_s"] + r["catalyst.planning_s"]
    ex = min(r["exec.task_run_s"] / cores, r["schedule.job_wall_s"])
    return {"construct": max(0.0, r["schedule.driver_gap_s"] - cat), "catalyst": cat,
            "schedule": r["schedule.job_wall_s"] - ex, "exec": ex}


def main():
    wl = sys.argv[1]
    s = json.loads((HERE / ".out" / "work" / wl / "summary.json").read_text())
    cores = json.loads((HERE / ".out" / "work" / wl / "result.json").read_text())["cores"]
    print(f"### {wl}: per query (seed {s['seed']}, {s['warm_passes']} warm passes)\n")
    print("| query | wall s | construct | catalyst | schedule | exec | dominant "
          "| jobs in construct | jobs | tasks | shuffle MB | out MB | peak task MB |")
    print("|---|---|---|---|---|---|---|---|---|---|---|---|---|")
    tot = {}
    for q, r in s["per_query"].items():
        sp = split(r, cores)
        for k, v in sp.items():
            tot[k] = tot.get(k, 0.0) + v
        dom = max(sp, key=sp.get)
        print(f"| {q} | {r['wall_s']:.3f} | " + " | ".join(f"{sp[k]:.3f}" for k in sp) +
              f" | {dom} | {r['construct.jobs']:.0f} | {r['schedule.jobs']:.0f} "
              f"| {r['schedule.tasks']:.0f} "
              f"| {r['exec.shuffle_write_mb'] + r['exec.shuffle_read_mb']:.2f} "
              f"| {r['io.output_mb']:.2f} | {r['exec.peak_task_mem_mb']:.1f} |")
    whole = sum(tot.values())
    print("\nWorkload split: " + ", ".join(
        f"{k} {v:.2f} s ({v / whole:.0%})" for k, v in tot.items()) +
        f"; dominant: {max(tot, key=tot.get)}\n")
    print("| per-layer metric | value |\n|---|---|")
    for k, v in sorted(s["metrics"].items()):
        print(f"| {k} | {v:.4g} |")
    print(f"\nRows per table: {s['rows']}")


if __name__ == "__main__":
    main()
