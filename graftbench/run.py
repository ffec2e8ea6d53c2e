#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, a fixed measuring time.

Usage (from the root of a checkout):

    python3 graftbench/run.py --workload rdf_etl --seed 1 --seconds 1 --trace 0

Workloads: rdf_etl, curate (see graftbench/README.md). The script
builds the engine and the benchmark driver from the checkout's sources (once
per source state), generates the workload's inputs from the seed (cached by
seed under graftbench/work/inputs), runs the driver JVM, checks the outputs
against independent computations (check.py), and prints one JSON line:

    {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones (setup_s, pass_s,
pass_cpu_s, peak_rss_mb); with --trace 1 they are the per-layer ones, and
the run also writes graftbench/work/<workload>/trace-seed<n>.json. Every
run appends a record (with the hypervisor steal share over the run) to
graftbench/work/runs.jsonl.
"""
import argparse
import fcntl
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

import gen
import check

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(BENCH, "work")
DEADLINE_S = 170  # a run after the build, the JVM included, ends within this

# generator, measured size, warm-up size (the same shape, much smaller)
WORKLOADS = {
    "rdf_etl": (gen.rdf_etl, {"entities": 6000}, {"entities": 300}),
    "curate": (gen.corpus, {"docs": 4000}, {"docs": 400, "nights": 0}),
}

# the module opens Spark needs on JDK 17 outside spark-submit
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]]


def log(msg):
    print(f"[graftbench] {msg}", file=sys.stderr, flush=True)


# ---- build -------------------------------------------------------------------

def source_stamp():
    """Digest of every file the build reads from the checkout."""
    h = hashlib.sha256()
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for top in [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src")]:
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compiles engine + driver with sbt when the sources changed; returns
    the runtime classpath."""
    stamp_file, cp_file = os.path.join(WORK, "build.stamp"), os.path.join(WORK, "classpath.txt")
    stamp = source_stamp()
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    opts = ["-Dsbt.offline=true", "-Xmx2g", "-XX:-UsePerfData"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=" ".join(opts))
    log("building engine and driver with sbt")
    t0 = time.time()
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"],
                       cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=850)
    with open(os.path.join(WORK, "build.log"), "w") as f:
        f.write(p.stdout)
    target = os.path.join(BENCH, "target")
    cp = [l for l in p.stdout.splitlines() if not l.startswith("[") and target in l]
    if p.returncode != 0 or not cp:
        log(f"build failed (exit {p.returncode}); see {os.path.join(WORK, 'build.log')}")
        sys.exit(1)
    log(f"built in {time.time() - t0:.0f} s")
    with open(cp_file, "w") as f:
        f.write(cp[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp[-1].strip()


# ---- inputs ------------------------------------------------------------------

def inputs(workload, seed, warm):
    """The workload's input directory for `seed`, generated on first use.
    The warm-up input does not depend on the seed. Other seeds' measured
    inputs of the workload are removed, so the cache holds one."""
    make, size, warm_size = WORKLOADS[workload]
    tag = "warmup" if warm else f"seed{seed}"
    root = os.path.join(WORK, "inputs")
    d = os.path.join(root, f"{workload}-{tag}")
    if os.path.exists(os.path.join(d, ".done")):
        return d
    if not warm and os.path.isdir(root):
        for old in os.listdir(root):
            if old.startswith(f"{workload}-seed"):
                shutil.rmtree(os.path.join(root, old))
    shutil.rmtree(d, ignore_errors=True)
    make(d, 0 if warm else seed, **(warm_size if warm else size))
    open(os.path.join(d, ".done"), "w").close()
    return d


# ---- run -----------------------------------------------------------------------

def cpu_times():
    """(steal, total) jiffies of the whole machine, for the steal share."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
        return v[7], sum(v[:8])
    except (OSError, IndexError, ValueError):
        return 0, 0


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        log(f"no engine sources under {ROOT}; run from the root of a graft checkout")
        sys.exit(2)
    os.makedirs(WORK, exist_ok=True)
    # one run at a time: runs share the build, the input cache and the
    # machine, and a concurrent run would skew both timings
    lock = open(os.path.join(WORK, ".lock"), "w")
    fcntl.flock(lock, fcntl.LOCK_EX)
    cp = build()
    t_start = time.time()  # the deadline leaves out the build, which may be long
    inp = inputs(a.workload, a.seed, warm=False)
    warm = inputs(a.workload, a.seed, warm=True)
    # the driver's own scratch (catalog warehouse, Spark local dirs) is per
    # workload, so runs of different workloads never share it
    wdir = os.path.join(WORK, a.workload)
    out = os.path.join(wdir, "out")
    os.makedirs(os.path.join(wdir, "tmp"), exist_ok=True)

    cmd = ["java", "-Xms2g", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={wdir}/tmp",
           "-Dspark.ui.enabled=false", *ADD_OPENS, "-cp", cp, "graftbench.Driver",
           a.workload, inp, warm, out, wdir, str(a.seconds), str(a.trace), str(a.seed)]
    s0, c0 = cpu_times()
    with open(os.path.join(wdir, "driver.log"), "w") as err:
        p = subprocess.Popen(cmd, cwd=wdir, stdout=subprocess.PIPE, stderr=err, text=True)
        try:
            stdout, _ = p.communicate(timeout=DEADLINE_S - (time.time() - t_start) - 20)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            log("driver ran out of time")
            sys.exit(1)
    s1, c1 = cpu_times()
    steal_pct = 100.0 * (s1 - s0) / (c1 - c0) if c1 > c0 else 0.0
    lines = [l for l in stdout.splitlines() if l.startswith("GRAFTBENCH_RESULT ")]
    if p.returncode != 0 or not lines:
        log(f"driver failed (exit {p.returncode}); see {os.path.join(wdir, 'driver.log')}")
        sys.exit(1)
    r = json.loads(lines[-1][len("GRAFTBENCH_RESULT "):])

    if a.workload == "rdf_etl":
        problems = check.rdf_etl(inp, os.path.join(out, "pass"), r["rdf_counts"])
        problems += check.queries(os.path.join(inp, "sf"), os.path.join(out, "oracle.json"),
                                  os.path.join(out, "pass", "results"), r["sample"])
        if r["conf_changed"]:
            log(f"session conf keys left changed by queries: {r['conf_changed']}")
    else:
        problems = check.curate(inp, os.path.join(out, "pass"))
    for problem in problems:
        log(f"CHECK FAILED: {problem}")

    if a.trace:
        metrics = {k: {"value": v, "unit": unit_of(k)} for k, v in sorted(r["layers"].items())}
    else:
        metrics = {
            "setup_s": {"value": statistics.median(r["setup_s"]), "unit": "s"},
            "pass_s": {"value": statistics.median(r["pass_s"]), "unit": "s"},
            "pass_cpu_s": {"value": statistics.median(r["pass_cpu_s"]), "unit": "s"},
            "peak_rss_mb": {"value": r["peak_rss_mb"], "unit": "MB"},
        }
    record = {"workload": a.workload, "seed": a.seed, "trace": a.trace,
              "steal_pct": round(steal_pct, 2), "setup_s": r["setup_s"], "pass_s": r["pass_s"],
              "pass_cpu_s": r["pass_cpu_s"], "peak_rss_mb": r["peak_rss_mb"],
              "start_to_pass_s": r["start_to_pass_s"], "problems": problems,
              "run_s": round(time.time() - t_start, 1)}
    with open(os.path.join(WORK, "runs.jsonl"), "a") as f:
        f.write(json.dumps(record) + "\n")
    log(f"steal {steal_pct:.1f}% over the run; {len(r['pass_s'])} passes; "
        f"{time.time() - t_start:.0f} s in all")
    print(json.dumps({"correct": not problems, "attempted": int(r["attempted"]),
                      "failed": int(r["failed"]), "metrics": metrics}))


def unit_of(metric):
    counter = metric.split(".")[-1]
    if counter in ("jobs", "tasks", "conf_keys_changed"):
        return "count"
    if counter.endswith("_mb"):
        return "MB"
    return "s"


if __name__ == "__main__":
    main()
