#!/usr/bin/env python3
"""The repository's benchmark: one run of one workload in a fresh JVM.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program and the harness from source on first use (one sbt
invocation in this directory; later runs reuse the build while the sources
are unchanged), makes the workload's input from the seed, launches a fresh
JVM on the compiled classes and checks every query's output. The last
stdout line is one JSON object with the keys correct, attempted, failed and
metrics: the end-to-end metrics with --trace 0, the per-layer metrics of
the traced run with --trace 1. The line before it carries the calibration
probe (a reference figure, not a metric). See README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

import pyarrow.parquet as pq

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
OUT = HERE / ".out"
BASE_DATA = HERE / "data" / "sf0.01"
sys.path.insert(0, str(HERE))

import check  # noqa: E402
import properties  # noqa: E402
import replica  # noqa: E402

# Every 36th query of SparkEntry.registry in registration order (0, 36, ...,
# 216), so the query families are spread over the list, plus the three
# noOracle rows that are not pipelines (g06, s07, s08), whose outputs get
# property checks.
REGISTRY = [
    "q01_pricing_summary", "a02_row_mapper", "t43_dup_triangles",
    "t33_ccnet_buckets", "x02_fused_rime_gains", "s24_session_paths",
    "l01_kron_matvec",
    "g06_gauss_newton", "s07_ts_probe", "s08_ts_residues",
]
# The pipelines that write a table and read it back. p02 (imaging) and the
# heaviest single-operator rows are left out: with them a run no longer fits
# its time budget (README.md, "Trimming").
HEAVY = ["p01_predict_pipeline", "p03_curation_pipeline", "p04_selfcal_pipeline"]
# k of the heavy workload's replica of the sf0.01 tables
HEAVY_K = 2
# min_warm: warm passes run until --seconds have elapsed and at least
# min_warm times. At 15 s the least number outlasts the time on its
# workload (a registry pass takes 4-6 s, a heavy one 6-9 s), so every run
# measures the same number of passes: the passes still speed up as the JIT
# settles, and a run that fitted one pass fewer read up to 10 % slower. The
# heavy workload keeps three so that its runs stay within the time budget.
WORKLOADS = {
    "registry_sf0.01": {"queries": REGISTRY, "k": 1, "min_warm": 4},
    "heavy_replica": {"queries": HEAVY, "k": HEAVY_K, "min_warm": 3},
}
# Spark's local[N]. Two task slots leave the other cores of the 4-core
# machine to the driver thread, the JIT compiler threads and the GC: with
# local[4] the warm passes were slower and spread wider (README.md).
CORES = 2
HEAP = "4g"
# input generation is repeated and its median reported
DATAGEN_REPS = 3
JVM_TIMEOUT_S = 150

END_TO_END = {"setup_s": "s", "cold_pass_s": "s", "pass_s": "s",
              "query_p50_s": "s", "peak_task_mem_mb": "MB"}
SUMMED = [
    "construct.wall_s", "construct.jobs", "construct.driver_s",
    "catalyst.analysis_s", "catalyst.optimization_s", "catalyst.planning_s",
    "catalyst.executions", "schedule.jobs", "schedule.stages",
    "schedule.tasks", "schedule.driver_gap_s", "schedule.task_deser_s",
    "exec.task_run_s", "exec.task_cpu_s", "exec.task_gc_s",
    "exec.shuffle_write_mb", "exec.shuffle_read_mb", "exec.spill_mb",
    "io.input_mb", "io.output_mb", "io.output_rows", "jvm.gc_s", "jvm.jit_s",
]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def unit(name):
    if name in END_TO_END:
        return END_TO_END[name]
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    return "ratio" if name.endswith("_ratio") else "count"


# -- build -------------------------------------------------------------------

def _sources():
    files = [ROOT / "build.sbt", HERE / "build.sbt"]
    for d in (ROOT / "project", HERE / "project"):
        files += sorted(p for p in d.glob("*") if p.is_file())
    for d in (ROOT / "src" / "main", HERE / "src"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    return files


def build():
    """Compile the program and the harness unless the build is current; return
    the classpath: the two class directories and the program's Spark jars."""
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala").is_dir():
        die(f"no program sources next to {HERE.name}/ (expected build.sbt and src/main/scala)")
    h = hashlib.sha256()
    for p in _sources():
        h.update(str(p.relative_to(ROOT)).encode() + b"\0" + p.read_bytes())
    stamp, jars = OUT / "build" / "stamp", OUT / "build" / "spark_jars"
    classes = [HERE / "target/scala-2.13/classes", ROOT / "target/scala-2.13/classes"]
    if not (stamp.is_file() and stamp.read_text() == h.hexdigest() and jars.is_file()
            and all(c.is_dir() for c in classes)):
        stamp.parent.mkdir(parents=True, exist_ok=True)
        env = dict(os.environ)
        env.setdefault("COURSIER_MODE", "offline")
        log = OUT / "build" / "sbt.log"
        with open(log, "w") as f:
            rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                                 "export unmanagedBase"],
                                cwd=HERE, env=env, stdout=f, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL).returncode
        lines = log.read_text().split()
        if rc != 0 or not lines or not Path(lines[-1]).is_dir() \
                or not (classes[0] / "perfbench" / "Harness.class").is_file():
            die(f"build failed (sbt exit {rc}); see {log}")
        jars.write_text(lines[-1])
        stamp.write_text(h.hexdigest())
    return [str(c) for c in classes] + [jars.read_text() + "/*"]


# -- inputs ------------------------------------------------------------------

def tmp_paths(data_dir):
    """The Measurement Set directory and every path outside java.io.tmpdir that
    the program writes for a data directory (queries/PipelineQ.scala): the
    build-once p01 Measurement Set, sky model and beam fixture, and the p03
    sink. All are removed before and after each run, so every run builds them
    again."""
    tag = "".join(c if c.isalnum() else "_" for c in str(data_dir))
    ms = f"/tmp/graft_p01_ms_{tag}"
    return ms, [ms, "/tmp/graft_p01_sky.txt", "/tmp/graft_p01_beam", f"/tmp/graft_p03_out_{tag}"]


def remove(paths):
    for p in map(Path, paths):
        if p.is_dir() and not p.is_symlink():
            shutil.rmtree(p, ignore_errors=True)
        elif p.exists() or p.is_symlink():
            p.unlink()


def make_inputs(wl, seed, data_dir):
    """Generate the input DATAGEN_REPS times; return (median seconds, rows)."""
    times = []
    for _ in range(DATAGEN_REPS):
        shutil.rmtree(data_dir, ignore_errors=True)
        t0 = time.perf_counter()
        if wl["k"] == 1:
            rows = replica.copy(BASE_DATA, data_dir)
        else:
            rows = replica.make(BASE_DATA, data_dir, wl["k"], seed)
        times.append(time.perf_counter() - t0)
    return statistics.median(times), rows


# -- metrics -----------------------------------------------------------------

def end_to_end(res, datagen_s):
    med = [statistics.median(p[i]["wall_s"] for p in res["warm"])
           for i in range(len(res["queries"]))]
    return {
        "setup_s": datagen_s + res["session_s"] + res["warmup_s"],
        "cold_pass_s": sum(r["wall_s"] for r in res["cold"]),
        "pass_s": sum(med),
        "query_p50_s": statistics.median(med),
        # per warm pass the largest peakExecutionMemory of any task; the
        # smallest of these, so one pass's allocation spike does not decide it
        "peak_task_mem_mb": min(res["peak_task_mem_bytes"]) / 2**20,
    }


def per_layer(res, datagen_s):
    passes = []
    for p in res["warm"]:
        s = {k: sum(r.get(k, 0.0) for r in p) for k in SUMMED}
        job_wall = sum(r.get("schedule.job_wall_s", 0.0) for r in p)
        s["exec.slot_busy_ratio"] = s["exec.task_run_s"] / (job_wall * res["cores"]) if job_wall else 0.0
        s["traced.pass_s"] = sum(r["wall_s"] for r in p)
        passes.append(s)
    m = {k: statistics.median(p[k] for p in passes) for k in passes[0]}
    m["setup.session_s"] = res["session_s"]
    m["setup.datagen_s"] = datagen_s
    m["setup.warmup_s"] = res["warmup_s"]
    m["jvm.cold_gc_s"] = sum(r["jvm.gc_s"] for r in res["cold"])
    m["jvm.cold_jit_s"] = sum(r["jvm.jit_s"] for r in res["cold"])
    return m


def detail(res):
    """Per query: median over warm passes of every recorded value."""
    keys = sorted({k for p in res["warm"] for r in p for k in r})
    return {q: {k: statistics.median(p[i].get(k, 0.0) for p in res["warm"]) for k in keys}
            for i, q in enumerate(res["queries"])}


# -- output checks -----------------------------------------------------------

def check_outputs(res, data_dir, out_dir, ms_dir):
    """{query: reason} for every output that fails its check."""
    bad = {}
    ora = check.Oracle(str(data_dir), str(OUT / "oracle_cache.json"))
    for q in res["queries"]:
        if q in res["failed"]:
            continue
        d = out_dir / q
        try:
            if q in res["oracle_sql"]:
                why = ora.compare(res["oracle_sql"][q], str(d))
            else:
                why = properties.check(q, ora.read_output(str(d)), data_dir, ms_dir)
        except Exception as e:  # a check that cannot run is a failed check
            why = f"check raised {type(e).__name__}: {e}"
        if why:
            bad[q] = why
    ora.save()
    return bad


# -- main --------------------------------------------------------------------

def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    wl = WORKLOADS[a.workload]

    classpath = build()
    work = OUT / "work" / a.workload
    shutil.rmtree(work, ignore_errors=True)
    data_dir, out_dir, tmp = work / "data", work / "out", work / "tmp"
    for d in (out_dir, tmp, work / "spark-local"):
        d.mkdir(parents=True)
    ms_dir, all_tmp = tmp_paths(data_dir)
    remove(all_tmp)
    datagen_s, rows = make_inputs(wl, a.seed, data_dir)

    cores = min(CORES, len(os.sched_getaffinity(0)))
    opens = [f"java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
        "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
        "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]
    cmd = ["java"] + [x for o in opens for x in ("--add-opens", o)] + [
        f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:ReservedCodeCacheSize=2g",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        f"-Djava.io.tmpdir={tmp}",
        "-cp", ":".join(classpath),
        "perfbench.Harness",
        "--data", str(data_dir), "--queries", ",".join(wl["queries"]),
        "--seconds", str(a.seconds), "--trace", str(a.trace),
        "--cores", str(cores), "--out", str(out_dir),
        "--min-warm", str(wl["min_warm"]),
        "--local-dir", str(work / "spark-local"),
        "--warehouse", str(work / "warehouse"),
        "--result", str(work / "result.json")]
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    with open(work / "jvm.log", "w") as log:
        p = subprocess.Popen(cmd, cwd=work, env=env, stdout=log, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            remove(all_tmp)
            die(f"JVM exceeded {JVM_TIMEOUT_S} s; see {work / 'jvm.log'}")
    if rc != 0 or not (work / "result.json").is_file():
        remove(all_tmp)
        die(f"JVM exit {rc}; see {work / 'jvm.log'}")
    res = json.loads((work / "result.json").read_text())

    bad = check_outputs(res, data_dir, out_dir, ms_dir)
    main_parquet = Path(ms_dir) / "MAIN.parquet"
    if main_parquet.exists():
        rows["MS MAIN"] = pq.read_table(main_parquet, columns=["row_id"]).num_rows
    remove(all_tmp)
    failing = set(res["failed"]) | set(bad)
    for q, why in sorted({**res["failed"], **bad}.items()):
        print(f"perfbench: {q} failed: {why}", file=sys.stderr)

    n = len(res["queries"])
    per_query = 2 + len(res["warm"])  # cold + warm passes + the checked evaluation
    metrics = per_layer(res, datagen_s) if a.trace else end_to_end(res, datagen_s)
    info = {"rows": rows, "seed": a.seed, "warm_passes": len(res["warm"]),
            "calib_start_s": res["calib_start_s"], "calib_end_s": res["calib_end_s"],
            "check_failures": bad, "metrics": metrics, "per_query": detail(res)}
    (work / "summary.json").write_text(json.dumps(info, indent=1, sort_keys=True))
    print(json.dumps({"calib_start_s": res["calib_start_s"], "calib_end_s": res["calib_end_s"]}))
    print(json.dumps({
        "correct": not bad,
        "attempted": n * per_query,
        "failed": len(failing) * per_query,
        "metrics": {k: {"value": v, "unit": unit(k)}
                    for k, v in sorted(metrics.items())},
    }))


if __name__ == "__main__":
    main()
