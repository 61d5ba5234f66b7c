#!/usr/bin/env python3
"""graft benchmark: one workload's registered queries, whole results, one run.

Usage (from the root of a checkout):
  python3 perfbench/run.py --workload omics --seed 1 --seconds 6 --trace 0

Builds graft and the harness with sbt once per source state, runs
perfbench.Harness in a plain JVM over the sf0.01 fixtures in
perfbench/fixtures, checks every timed query's whole result against its
DuckDB oracle, and prints one JSON object as the last line of stdout. --trace 0 prints the end-to-end metrics,
--trace 1 the per-layer ones. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
OUT = os.path.join(BENCH, "out")
RUN = os.path.join(OUT, "run")
BUILD = os.path.join(OUT, "build")
DATA = os.path.join(BENCH, "fixtures", "sf0.01")
sys.path.insert(0, BENCH)

HEAP = "2g"           # fixed JVM heap
MAX_CORES = 4         # local[k], k = min(MAX_CORES, usable cpus)
WARMUP = 3            # untimed passes after the cold one; the first dumps results
                      # (a workload's "warmup" in workloads.json overrides it)
MIN_PASSES = 6        # timed passes per run, at least
HARNESS_LIMIT_S = 150  # the harness JVM is killed past this
BUILD_LIMIT_S = 840

MODULES = ["pipelines", "omics", "ops", "stats", "dedup", "sim", "text", "io", "streaming"]
MODULE_METRICS = [("construct_s", "s"), ("plan_s", "s"), ("exec_s", "s"),
                  ("jobs", "count"), ("shuffle_mb", "MB"), ("task_cpu_s", "s")]
SPARK_METRICS = [("spark.construct_jobs", "count"), ("spark.stages", "count"),
                 ("spark.tasks", "count"), ("spark.driver_gap_s", "s"),
                 ("spark.gc_s", "s"), ("spark.shuffle_read_mb", "MB"),
                 ("spark.spill_mb", "MB"), ("spark.peak_storage_mb", "MB"),
                 ("spark.codegen_compile_s", "s"), ("spark.cold_plan_s", "s")]
KERNELS = ["minhash_sig", "shingle_hashes", "simhash_sig", "token_gram_hashes",
           "winnow_hashes", "quality_stats", "gopher_stats", "repetition_stats",
           "kmeans_argmin", "bloom_contains", "cosine_f"]
JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg):
    log(f"error: {msg}")
    sys.exit(2)


def per_layer_names():
    names = [(f"{m}.{k}", u) for m in MODULES for k, u in MODULE_METRICS]
    names += SPARK_METRICS
    names += [(f"catalyst.{k}.rows_per_s", "1/s") for k in KERNELS]
    names += [("host.calib_s", "s")]
    return names


def source_stamp():
    """Hash of everything the build reads, so a changed tree rebuilds."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(BENCH, "harness", "build.sbt"),
             os.path.join(BENCH, "harness", "project", "build.properties"),
             os.path.join(BENCH, "harness", "src")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """sbt compile of graft + harness; returns the runtime classpath."""
    for need in ("build.sbt", os.path.join("src", "main", "scala", "graft", "SparkEntry.scala"),
                 os.path.join("tools", "compare.py")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"no graft source at {need}: run from the root of a graft checkout")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java must be on PATH")
    stamp = source_stamp()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    t0 = time.monotonic()
    log("building graft and the harness with sbt")
    with open(os.path.join(BUILD, "sbt.log"), "w") as sbt_log:
        try:
            rc = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", f"writeClasspath {cp_file}"],
                cwd=os.path.join(BENCH, "harness"), env=env, stdout=sbt_log,
                stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
                timeout=BUILD_LIMIT_S).returncode
        except subprocess.TimeoutExpired:
            fail("sbt build timed out")
    if rc != 0 or not os.path.exists(cp_file):
        fail(f"sbt build failed (rc={rc}); see {os.path.join(BUILD, 'sbt.log')}")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"built in {time.monotonic() - t0:.1f} s")
    with open(cp_file) as f:
        return f.read().strip()


def run_harness(classpath, cfg):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cfg_path = os.path.join(RUN, "config.json")
    cmd = [java]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += [f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={os.path.join(RUN, 'tmp')}",
            "-cp", classpath, "perfbench.Harness", cfg_path]
    env = dict(os.environ)
    env.pop("SPARK_LOCAL_DIRS", None)  # spark.local.dir stays under the run directory
    harness_log = os.path.join(RUN, "harness.log")
    with open(harness_log, "w") as out:
        # setup_s runs from here to a session ready for the first query
        cfg["launch_ns"] = time.time_ns()
        with open(cfg_path, "w") as f:
            json.dump(cfg, f)
        proc = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, env=env, start_new_session=True)
        try:
            rc = proc.wait(timeout=HARNESS_LIMIT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            fail(f"harness exceeded {HARNESS_LIMIT_S} s; see {harness_log}")
    result = os.path.join(RUN, "harness.json")
    if rc != 0 or not os.path.exists(result):
        with open(harness_log) as f:
            tail = f.read()[-3000:]
        log(tail)
        fail(f"harness exited with {rc}; see {harness_log}")
    with open(result) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    with open(os.path.join(BENCH, "workloads.json")) as f:
        workloads = json.load(f)
    if args.workload not in workloads:
        fail(f"unknown workload {args.workload}; known: {', '.join(workloads)}")
    queries = workloads[args.workload]["queries"]
    warmup = workloads[args.workload].get("warmup", WARMUP)

    classpath = build()
    import check  # tools/compare.py's gate; imported once the checkout is known good

    # run hygiene: everything a run leaves lives under RUN, emptied first
    shutil.rmtree(RUN, ignore_errors=True)
    os.makedirs(os.path.join(RUN, "tmp"))
    t_harness = time.monotonic()

    cores = max(1, min(MAX_CORES, len(os.sched_getaffinity(0))))
    cfg = {"data": DATA, "out": RUN, "cores": cores, "seed": args.seed,
           "trace": bool(args.trace), "seconds": args.seconds, "warmup": warmup,
           "min_passes": MIN_PASSES, "queries": queries}
    h = run_harness(classpath, cfg)
    t_check = time.monotonic()

    problems = check.check_queries(DATA, os.path.join(RUN, "results"), h["oracle_sql"],
                                   h["rows_timed"])
    bad = {q: p for q, p in problems.items() if p}
    bad.update({f"kernel:{k}": v for k, v in h.get("kernel_checks", {}).items() if v != "ok"})
    for q, p in sorted(bad.items()):
        log(f"INCORRECT {q}: {p}")
    for q, e in sorted(h["errors"].items()):
        log(f"FAILED {q}: {e}")

    timed = h["timed"]
    log(f"{args.workload} seed={args.seed} k={cores} cold={h['cold']['wall_s']:.3f}s "
        f"timed passes={[round(p['wall_s'], 3) for p in timed]} "
        f"oracle-checked={sum(1 for q in problems if q in h['oracle_sql'])}/{len(problems)} "
        f"jvm={t_check - t_harness:.1f}s "
        f"check={time.monotonic() - t_check:.1f}s")
    if args.trace:
        layer = h["layer"]
        metrics = {n: {"value": float(layer.get(n, 0.0)), "unit": u}
                   for n, u in per_layer_names()}
    else:
        med = lambda key: statistics.median(p[key] for p in timed)
        metrics = {
            "setup_s": {"value": h["setup_s"], "unit": "s"},
            "cold_pass_s": {"value": h["cold"]["wall_s"], "unit": "s"},
            "warm_pass_s": {"value": med("wall_s"), "unit": "s"},
            "task_cpu_s": {"value": med("task_cpu_s"), "unit": "s"},
            "shuffle_mb": {"value": med("shuffle_mb"), "unit": "MB"},
        }
    with open(os.path.join(RUN, "result.json"), "w") as f:
        json.dump({"workload": args.workload, "seed": args.seed, "harness": h,
                   "problems": problems}, f, indent=1)
    print(json.dumps({"correct": not bad, "attempted": h["attempted"],
                      "failed": h["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
