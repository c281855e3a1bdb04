#!/usr/bin/env python3
"""The repository benchmark. Run from the repository root:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the harness from source (once per source state; the
build is cached under .perfbench/), generates the workload's inputs from
the seed, runs the harness in one JVM with local[<cores>] and one
closed-loop client, checks the outputs, and prints a provenance line
followed by the result as the last line:

    {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones. The full report of the last run of each workload (every
metric, failures, span self times) is written to .perfbench/last-<workload>.json.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
STATE = os.path.join(ROOT, ".perfbench")
sys.path.insert(0, BENCH)

from pb import (batch_check, gen_incremental, gen_tables, gen_votes, report,  # noqa: E402
                votes_check)

WORKLOADS = ["votes_pipeline", "batch_queries", "incremental"]
BATCH_SF = 0.02          # scale of the batch_queries tables
BATCH_DATA_SEED = 42     # fixed: the expected results are committed for these tables
INCREMENTAL_SF = 0.02    # 1,000 documents and 500 embeddings
BUILD_LIMIT_S = 700      # the first run of a checkout builds; it may take 900 s in all
RUN_LIMIT_S = 170        # a run (after any build) must finish within this
HEAP = "3g"


def die(msg, code=1):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(code)


def cores():
    env = os.environ.get("SPARK_GRAFT_CPUS")
    return int(env) if env else len(os.sched_getaffinity(0))


def source_stamp():
    """Digest of every file the build reads from the repository."""
    h = hashlib.sha256()
    paths = [os.path.join(ROOT, "build.sbt"), os.path.join(BENCH, "build.sbt")]
    for top in [os.path.join(ROOT, "project"), os.path.join(BENCH, "project")]:
        paths += [os.path.join(top, f) for f in sorted(os.listdir(top))
                  if f.endswith((".sbt", ".scala", ".properties"))]
    for top in [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src")]:
        for d, dirs, files in sorted(os.walk(top)):
            dirs.sort()
            paths += [os.path.join(d, f) for f in sorted(files)]
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def build():
    """Compile engine and harness with sbt; returns (classpath, jvm options)."""
    out = os.path.join(STATE, "build")
    launch = os.path.join(out, "launch-%s.txt" % source_stamp())
    if not os.path.exists(launch):
        os.makedirs(out, exist_ok=True)
        log = os.path.join(out, "sbt.log")
        with open(log, "w") as f:
            rc = subprocess.call(["sbt", "--batch", "-Dsbt.log.noformat=true",
                                  "-Dperfbench.launch=" + launch, "compile", "benchLaunch"],
                                 cwd=BENCH, stdout=f, stderr=subprocess.STDOUT,
                                 stdin=subprocess.DEVNULL, timeout=BUILD_LIMIT_S)
        if rc != 0 or not os.path.exists(launch):
            with open(log) as f:
                sys.stderr.write(f.read()[-4000:])
            die("build failed (log: %s)" % log)
    with open(launch) as f:
        lines = [x for x in f.read().splitlines() if x]
    return lines[0], lines[1:]


def expected_batch():
    with open(os.path.join(BENCH, "expected", "batch_queries.json")) as f:
        return json.load(f)


def generate(workload, seed, inputs):
    """Write the workload's inputs; returns what the checks need."""
    if workload == "votes_pipeline":
        corpus = gen_votes.generate(seed)
        problems = gen_votes.scale_problems(corpus)
        if problems:
            die("generated corpus is off the published scale: " + "; ".join(problems))
        # a run processes a fixed-size sample of it: the whole corpus takes
        # 80-100 s a pass on 4 cores
        sample = gen_votes.sample_files(corpus, seed)
        gen_votes.write(sample, inputs)
        return sample
    # the query entries run in a fixed order over fixed tables, whose
    # expected results are committed
    gen_tables.write(os.path.join(inputs, "tables"), BATCH_SF, BATCH_DATA_SEED)
    with open(os.path.join(inputs, "order.txt"), "w") as f:
        f.write("\n".join(sorted(expected_batch())) + "\n")
    if workload == "incremental":
        gen_incremental.write(inputs, INCREMENTAL_SF, seed)
    return None


def run_jvm(classpath, options, argv, work, deadline):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    cmd = ([java, "-Xmx" + HEAP, "-Duser.timezone=UTC", "-Djava.io.tmpdir=" + tmp] + options +
           ["-cp", classpath, "perfbench.Main"] + argv)
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as f:
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=f, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            rc = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            die("harness did not finish in time (log: %s)" % log)
    if rc != 0:
        with open(log) as f:
            sys.stderr.write(f.read()[-4000:])
        die("harness exited with %d (log: %s)" % (rc, log))


def git_commit():
    try:
        return subprocess.check_output(["git", "rev-parse", "HEAD"], cwd=ROOT,
                                       stderr=subprocess.DEVNULL, text=True).strip()
    except (OSError, subprocess.CalledProcessError):
        return "unknown"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        die("no engine sources next to %s; run from a full checkout" % BENCH, 2)

    classpath, options = build()
    deadline = time.monotonic() + RUN_LIMIT_S
    n_cores = cores()
    load_start = os.getloadavg()[0]
    if load_start > n_cores / 2:
        print("perfbench: WARNING: load %.1f > cores/2 (%.1f) at start; timings are "
              "likely inflated" % (load_start, n_cores / 2), file=sys.stderr)

    t0 = time.perf_counter()
    work = os.path.join(STATE, "run-" + a.workload)
    shutil.rmtree(work, ignore_errors=True)
    inputs = os.path.join(work, "inputs")
    os.makedirs(inputs)
    truth = generate(a.workload, a.seed, inputs)
    gen_s = time.perf_counter() - t0

    out = os.path.join(work, "result.json")
    run_jvm(classpath, options,
            ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
             "--trace", str(a.trace), "--cores", str(n_cores), "--inputs", inputs,
             "--work", work, "--out", out], work, deadline)
    with open(out) as f:
        raw = json.load(f)

    ops = raw["recorder"]["ops"]
    failures = {o["id"]: o["error"] for o in ops if not o["ok"]}
    quality = {}
    if a.workload == "votes_pipeline":
        bad, quality = votes_check.check(truth, ops, raw["workload"]["export_dir"])
        failures.update(bad)
    else:
        failures.update(batch_check.failures(ops, expected_batch()))
    attempted, failed = len(ops), len(failures)

    e2e, samples = report.end_to_end(raw, gen_s + raw["setup_jvm_s"])
    layers = report.per_layer(raw, quality, attempted, failed) if a.trace else None
    chosen = layers if a.trace else e2e
    metrics = {k: {"value": v, "unit": report.UNITS[k]} for k, v in chosen.items()}
    provenance = {
        "workload": a.workload, "seed": a.seed, "traced": bool(a.trace),
        "nproc": len(os.sched_getaffinity(0)),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"), "cores": n_cores,
        "load_start": load_start, "load_end": os.getloadavg()[0],
        "spark": raw["provenance"]["spark_version"], "jvm": raw["provenance"]["jvm_version"],
        "commit": git_commit(), "op_samples": samples, "passes": len(raw["recorder"]["passes"]),
        "error_rate": failed / attempted}
    full = {"provenance": provenance, "end_to_end": e2e, "per_layer": layers,
            "failures": {str(k): v for k, v in failures.items()},
            "self_time_s": report.self_time_table(raw) if a.trace else None}
    with open(os.path.join(STATE, "last-%s.json" % a.workload), "w") as f:
        json.dump(full, f, indent=1, sort_keys=True)
    for k, v in sorted(failures.items()):
        print("perfbench: failed op %s: %s" % (k, v), file=sys.stderr)
    print(json.dumps({"provenance": provenance}))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
