#!/usr/bin/env python3
"""graft benchmark: one run of one workload.

    python3 graftbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a graft checkout. The first run builds graft and the
benchmark package with sbt (offline) and caches the classpath under
`.bench_build/graftbench`, keyed by a hash of the sources. Each run then
generates its inputs from the seed, runs the workload in one JVM on
`local[n]` (n = usable cores, at most 4), checks the outputs in DuckDB,
and prints one JSON object as its last line of standard output:
end-to-end metrics with `--trace 0`, per-layer metrics with `--trace 1`,
named, ordered and given their units as in the root's BENCHMARK.json.
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
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout

import numpy as np  # noqa: E402

import checks  # noqa: E402
import datagen  # noqa: E402

WORKLOADS = ("elt_nightly", "stream_dedup", "corpus_ops")
MAX_CPUS = 4
JVM_TIMEOUT_S = 160
# micro-batch rounds staged for stream_dedup: the warm-up round and more
# timed rounds than a run can use
STREAM_ROUNDS = 12
STREAM_BATCH_DOCS = 25
# the elt_nightly warm-up runs the job once over a fiftieth of the tables
ELT_WARM_SCALE = 0.02

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def die(msg):
    print(f"graftbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_hash(root):
    """Hash of every file the build reads, so a changed source rebuilds."""
    h = hashlib.sha256()
    tops = [os.path.join(root, "src", "main"), os.path.join(root, "build.sbt"),
            os.path.join(root, "project", "build.properties"),
            os.path.join(HERE, "src"), os.path.join(HERE, "build.sbt"), os.path.abspath(__file__),
            os.path.join(HERE, "project", "build.properties")]
    for top in tops:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build(root, build_dir):
    """Compiles graft and the benchmark; returns the runtime classpath."""
    if not os.path.isfile(os.path.join(root, "build.sbt")) or \
            not os.path.isdir(os.path.join(root, "src", "main", "scala", "graft")):
        die("graft sources not found: run from the root of a graft checkout")
    stamp = source_hash(root)
    cp_file = os.path.join(build_dir, "classpath.txt")
    stamp_file = os.path.join(build_dir, "stamp")
    if os.path.isfile(cp_file) and os.path.isfile(stamp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    shutil.rmtree(build_dir, ignore_errors=True)
    os.makedirs(build_dir)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    with open(os.path.join(build_dir, "build.log"), "w") as log:
        p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                            "export Runtime/fullClasspathAsJars"],
                           cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=log,
                           text=True, timeout=840)
        log.write(p.stdout)
    lines = [ln for ln in p.stdout.splitlines() if ".jar" in ln and not ln.startswith("[")]
    if p.returncode != 0 or not lines:
        die(f"build failed (see {build_dir}/build.log)")
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return lines[-1].strip()


def metrics_as_listed(got, listed, fill):
    """The JVM's metrics in BENCHMARK.json's order and units. With `fill`,
    a listed metric the workload does not compute reads 0."""
    unknown = sorted(set(got) - {m["name"] for m in listed})
    if unknown:
        die(f"metrics not listed in BENCHMARK.json: {', '.join(unknown)}")
    missing = [m["name"] for m in listed if m["name"] not in got]
    if missing and not fill:
        die(f"metrics not measured: {', '.join(missing)}")
    return {m["name"]: {"value": got.get(m["name"], 0.0), "unit": m["unit"]} for m in listed}


def generate(workload, seed, data_dir):
    rng = np.random.default_rng(seed)
    if workload == "elt_nightly":
        datagen.write_tables(datagen.tpch_tables(rng), os.path.join(data_dir, "tpch"))
        datagen.write_tables(datagen.tpch_tables(rng, ELT_WARM_SCALE),
                             os.path.join(data_dir, "tpch_warm"))
    elif workload == "stream_dedup":
        datagen.stage_stream(rng, os.path.join(data_dir, "stream"), STREAM_ROUNDS, STREAM_BATCH_DOCS)
    else:
        tables = datagen.tpch_tables(rng)
        tables.update(datagen.corpus_tables(rng))
        datagen.write_tables(tables, os.path.join(data_dir, "tpch"))


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()

    root = os.getcwd()
    base = os.path.join(root, ".bench_build", "graftbench")
    classpath = build(root, base)
    spec = json.load(open(os.path.join(root, "BENCHMARK.json")))
    cpus = min(MAX_CPUS, len(os.sched_getaffinity(0)))

    run_dir = os.path.join(base, "runs", f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    data_dir, work_dir = os.path.join(run_dir, "data"), os.path.join(run_dir, "work")
    os.makedirs(os.path.join(work_dir, "tmp"))
    ok = False
    try:
        t0 = time.monotonic()
        generate(a.workload, a.seed, data_dir)
        gen_s = time.monotonic() - t0

        out = os.path.join(run_dir, "result.json")
        # the first run of a workload after a build dumps the classes it
        # loaded into that workload's class-data archive; later runs of the
        # workload map it and start faster
        cds = os.path.join(base, f"classes-{a.workload}.jsa")
        cds_opt = (f"-XX:SharedArchiveFile={cds}" if os.path.isfile(cds)
                   else f"-XX:ArchiveClassesAtExit={cds}")
        cmd = ["java", "-Xmx3g", "-XX:+UseParallelGC", cds_opt, "-Xlog:cds=off",
               *[x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")],
               "-Duser.timezone=UTC", f"-Djava.io.tmpdir={work_dir}/tmp",
               f"-Dderby.system.home={work_dir}", "-cp", classpath, "graftbench.Main",
               "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
               "--trace", str(a.trace), "--data", data_dir, "--work", work_dir,
               "--cpus", str(cpus), "--out", out]
        with open(os.path.join(run_dir, "jvm.log"), "w") as log:
            proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT)
            try:
                code = proc.wait(timeout=JVM_TIMEOUT_S)
            finally:
                if proc.poll() is None:
                    proc.kill()
                    proc.wait()
        if code != 0 or not os.path.isfile(out):
            with open(os.path.join(run_dir, "jvm.log")) as f:
                sys.stderr.write(f.read()[-6000:])
            die(f"the {a.workload} JVM exited with code {code}")
        res = json.load(open(out))
        if a.trace:
            shutil.copy(os.path.join(run_dir, "trace.json"),
                        os.path.join(base, f"trace-{a.workload}.json"))
        t1 = time.monotonic()
        problems = checks.CHECKS[a.workload](res, data_dir, run_dir)
        check_s = time.monotonic() - t1
        for p in problems:
            print(f"check failed: {p}", file=sys.stderr)
        if a.trace:
            metrics = metrics_as_listed(res["metrics"], spec["per_layer"], fill=True)
        else:
            metrics = metrics_as_listed(res["metrics"], spec["end_to_end"], fill=False)
            metrics["setup_s"]["value"] += gen_s
        print(json.dumps({"workload": a.workload, "seed": a.seed, "rounds": res["rounds"],
                          "round_wall_s": res["round_wall_s"],
                          "setup_parts": dict(res["setup_parts"], datagen_s=gen_s),
                          "check_s": check_s}))
        print(json.dumps({"correct": not problems, "attempted": res["attempted"],
                          "failed": res["failed"], "metrics": metrics}))
        ok = True
    finally:
        # a failed run keeps its logs and outputs for inspection
        if ok:
            shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
