#!/usr/bin/env python3
"""Benchmark entry point: one command per workload.

    python3 perfbench/run.py --workload batch_build --seed 1 --seconds 15 --trace 0

Run from the repository root. It builds the program and the harness from
source with sbt (once per source state; later runs reuse the build),
generates the workload's inputs from the seed (cached under
perfbench/work/), runs the workload in one fresh JVM as one closed-loop
client on local[nproc], and prints as its last stdout line one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics``. With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1`` the
per-layer ones. The full result (samples, per-query and per-layer detail,
spans, JVM flags) is written to perfbench/out/. Exits 1 on a correctness
failure and 2 when the program cannot be built or run.

Workloads:
  batch_build     raw CSVs -> four KPI views, cold then warm builds
  refresh_ticks   a prebuilt partitioned fact, then refresh ticks
  operator_suite  iterative registry operators plus two scan contrasts
"""

import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "work")
OUT = os.path.join(HERE, "out")
sys.path.insert(0, HERE)

import gen_corpus  # noqa: E402

WORKLOADS = ("batch_build", "refresh_ticks", "operator_suite")
END_TO_END = ("setup_s", "cold_s", "op_p50_s")

# The operator-suite list: one iterative operator bound by the scheduler
# floor (a graph loop) and one scan-bound contrast. The other iterative
# operators (BPE, HNSW/NSW, the other graph loops; 2-5 s each) do not fit
# the time three workloads get.
QUERIES = ("x_graph_pagerank", "x_text_entropy")
OPS_SEED = 42
OPS_SF = 0.01
# Monthly files of a batch corpus: the 106/102/74-column split and two
# waves of file tasks on 4 cores. Twelve (the reference's year) do not fit
# the time three workloads get: each file adds about 1 s to a build.
BATCH_MONTHS = 8
# monthly files a refresh run lands after its three set-up months
REFRESH_TICKS = 3

_COUNTERS = ("wall_s", "jobs", "tasks", "cpu_s", "gc_s", "shuffle_write_mb", "spill_mb",
             "core_util", "task_skew")
_LAYERS = ("ingest.plan", "staging", "warehouse", "datamart",
           "refresh.discover", "refresh.tick", "refresh.read")
_VIEWS = ("kpi_neighbourhood_month", "kpi_neighbourhood_month_raw",
          "kpi_property_type_month", "kpi_host_month")


def _unit(counter):
    return {"wall_s": "s", "cpu_s": "s", "gc_s": "s", "overhead_s": "s",
            "jobs": "count", "tasks": "count", "plan_jobs": "count",
            "shuffle_write_mb": "MB", "spill_mb": "MB", "cached_mb": "MB",
            "bytes_written_mb": "MB", "core_util": "ratio", "task_skew": "ratio",
            "rows_in": "rows", "rows_out": "rows", "files_written": "count",
            "reprocessed_files": "count", "fact_bytes_per_raw_byte": "ratio",
            "exact_counters": "count", "varying_counters": "count"}[counter]


def per_layer_names():
    """Every per-layer metric, as (name, unit), in a fixed order. Every
    workload reports all of them; a layer a workload leaves idle reads 0."""
    names = [f"{l}.{c}" for l in _LAYERS for c in _COUNTERS]
    names += ["staging.rows_in", "staging.rows_out", "warehouse.rows_in", "warehouse.rows_out",
              "staging.cached_mb", "warehouse.cached_mb"]
    names += [f"datamart.{v}.wall_s" for v in _VIEWS]
    names += ["refresh.tick.files_written", "refresh.tick.bytes_written_mb",
              "refresh.tick.reprocessed_files", "refresh.tick.fact_bytes_per_raw_byte"]
    names += [f"ops.{q}.{c}" for q in QUERIES for c in _COUNTERS + ("plan_jobs",)]
    names += ["trace.overhead_s", "trace.exact_counters", "trace.varying_counters"]
    return [(n, _unit(n.rsplit(".", 1)[1])) for n in names]


# Raw rows of the first monthly file of each pipeline corpus. "full" is
# what the benchmark measures; "tiny" exists for the self-tests.
SIZES = {
    "full": {"batch_rows": 375, "refresh_rows": 250},
    "tiny": {"batch_rows": 150, "refresh_rows": 120},
}


def log(msg):
    print("[perfbench] " + msg, file=sys.stderr, flush=True)


# ------------------------------------------------------------------ build

def _source_files():
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, fs in sorted(os.walk(base)):
            for f in sorted(fs):
                yield os.path.join(d, f)
    for f in ("build.sbt", os.path.join("project", "build.properties")):
        yield os.path.join(ROOT, f)
        yield os.path.join(HERE, f)


def build():
    """Compile the program and the harness; return the runtime classpath."""
    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            log(f"the program's sources are missing ({need} under {ROOT}); nothing to build")
            sys.exit(2)
    h = hashlib.sha1()
    for f in _source_files():
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    target = os.path.join(HERE, "target")
    cp_file = os.path.join(target, "classpath.txt")
    stamp_file = os.path.join(target, "build.stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    log("building the program and the harness with sbt")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
    sbt_opts = "-Dsbt.offline=true -Xmx2g"
    if os.path.exists(repos):
        sbt_opts = f"-Dsbt.override.build.repos=true -Dsbt.repository.config={repos} " + sbt_opts
    env.setdefault("SBT_OPTS", sbt_opts)
    t0 = time.time()
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                       cwd=HERE, env=env, stdin=subprocess.DEVNULL,
                       stdout=sys.stderr, stderr=sys.stderr, timeout=840)
    if p.returncode != 0 or not os.path.exists(cp_file):
        log("build failed")
        sys.exit(2)
    log(f"built in {time.time() - t0:.1f} s")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    with open(cp_file) as f:
        return f.read().strip()


# ----------------------------------------------------------------- inputs

def _cached(kind, key, make, keep=3):
    """A generated input directory, made once per key; keeps the `keep`
    most recently used directories of each kind."""
    d = os.path.join(WORK, "inputs", f"{kind}-{key}")
    done = os.path.join(d, ".done")
    if not os.path.exists(done):
        shutil.rmtree(d, ignore_errors=True)
        t0 = time.time()
        make(d)
        open(done, "w").close()
        log(f"generated {kind} input {key} in {time.time() - t0:.1f} s")
    os.utime(done)
    mine = sorted((os.path.getmtime(os.path.join(WORK, "inputs", x, ".done")), x)
                  for x in os.listdir(os.path.join(WORK, "inputs"))
                  if x.startswith(kind + "-") and
                  os.path.exists(os.path.join(WORK, "inputs", x, ".done")))
    for _, x in mine[:-keep]:
        shutil.rmtree(os.path.join(WORK, "inputs", x), ignore_errors=True)
    return d


def inputs(workload, seed, size):
    s = SIZES[size]
    if workload == "batch_build":
        rows = s["batch_rows"]
        return _cached("batch", f"s{seed}-m{BATCH_MONTHS}-r{rows}",
                       lambda d: gen_corpus.generate(d, seed, BATCH_MONTHS, rows))
    if workload == "refresh_ticks":
        rows = s["refresh_rows"]
        return _cached("refresh", f"s{seed}-r{rows}-t{REFRESH_TICKS}",
                       lambda d: gen_corpus.generate(d, seed, 3 + REFRESH_TICKS, rows,
                                                     extra_every=3))
    import gen_ops  # numpy and pyarrow: needed by this workload only
    return _cached("ops", f"s{OPS_SEED}-sf{OPS_SF}",
                   lambda d: gen_ops.generate(d, OPS_SEED, OPS_SF))


# -------------------------------------------------------------------- run

# The JDK-17 module opens Spark needs outside spark-submit (the set of
# scripts/bench.sh); without sun.util.calendar, date decoding fails.
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]
HEAP = "3g"


def run_jvm(classpath, args, work, deadline):
    """Run perfbench.Main with its scratch space (temp files, Spark's local
    dirs) under `work`; stop it at the deadline."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
    env = dict(os.environ)
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    cmd = [java, *ADD_OPENS, f"-Xmx{HEAP}", "-XX:ReservedCodeCacheSize=512m",
           f"-Djava.io.tmpdir={tmp}", "-cp", classpath, "perfbench.Main", *args]
    p = subprocess.Popen(cmd, cwd=ROOT, env=env, stdin=subprocess.DEVNULL,
                         stdout=sys.stderr, stderr=sys.stderr)
    try:
        return p.wait(timeout=max(10.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        log("the run overran its time limit; stopping it")
        p.kill()
        p.wait()
        return -1


def main(argv=None):
    ap = argparse.ArgumentParser(description="Pipeline benchmark (see module docstring).")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=sorted(SIZES), default="full")
    ap.add_argument("--input", help="use this generated input directory instead of the cache")
    a = ap.parse_args(argv)
    started = time.time()
    classpath = build()
    inp = a.input or inputs(a.workload, a.seed, a.size)
    os.makedirs(OUT, exist_ok=True)
    out = os.path.join(OUT, f"{a.workload}-seed{a.seed}-trace{a.trace}.json")
    if os.path.exists(out):
        os.remove(out)
    work = os.path.join(WORK, "run")
    shutil.rmtree(work, ignore_errors=True)
    args = ["--workload", a.workload, "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--cores", str(len(os.sched_getaffinity(0))), "--input", inp, "--work", work,
            "--out", out, "--seed", str(a.seed), "--queries", ",".join(QUERIES),
            "--pins", os.path.join(HERE, "ops_pins.tsv")]
    # the run gets what is left of 170 s after the build (a first build
    # has its own allowance)
    code = run_jvm(classpath, args, work, max(started, time.time() - 5) + 170)
    shutil.rmtree(work, ignore_errors=True)
    if code != 0 or not os.path.exists(out):
        log(f"the benchmark JVM exited with {code} and no result")
        return 2
    with open(out) as f:
        res = json.load(f)
    if a.trace:
        layers = res["per_layer"]
        metrics = {n: {"value": layers.get(n, 0.0), "unit": u} for n, u in per_layer_names()}
    else:
        metrics = {n: {"value": res["end_to_end"][n], "unit": "s"} for n in END_TO_END}
    for p in res["problems"]:
        log("problem: " + p)
    log(f"{a.workload}: {res['attempted']} attempted, {res['failed']} failed; "
        f"full result in {os.path.relpath(out, ROOT)}")
    print(json.dumps({"correct": res["correct"], "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    return 0 if res["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
