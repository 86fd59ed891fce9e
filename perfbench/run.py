#!/usr/bin/env python3
"""Run one graft benchmark workload and print its result as JSON.

Usage (from the repository root):
    python3 perfbench/run.py --workload olap|ingest --seed N \
        --seconds S --trace 0|1

The first call builds graft and the harness with sbt (perfbench/build.sbt)
and generates the input tables; both are cached under .bench_build/ and
rebuilt when a source file changes. Each run then starts a fresh JVM with
empty scratch, warehouse and Spark local dirs and runs the workload for
--seconds (see perfbench/NOTES.md). The last line of stdout is one JSON
object with the keys correct, attempted, failed and metrics: the
end-to-end metrics of BENCHMARK.json with --trace 0, its per-layer metrics
with --trace 1.

    --record FILE   write the run's output fingerprints as goldens to FILE

Each run leaves its per-op latencies (ops.tsv) and, traced, its spans
(spans.jsonl) and per-layer table (layers.txt) in .bench_build/last/WORKLOAD/.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
# Input sizes: relational tables at scale factor SF (lineitem = 6 M x SF
# rows), a curation corpus of DOCS documents and VECS embeddings. The
# goldens in perfbench/goldens.tsv hold for exactly these sizes and DATA_SEED.
SF, DOCS, VECS, DATA_SEED = "0.01", "1000", "400", "42"
# A fixed, pre-touched heap, so the resident set holds all of it from the
# start instead of following when G1 grows the heap; peak_rss_mb counts
# the live heap in its place (Util.outsideHeapMb, Util.liveHeapMb). It is
# 2 GB, not graft's own -Xmx8g, to keep runs small on a shared host.
JVM_HEAP = ["-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch"]
RUN_LIMIT_S = 170  # the whole run


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg):
    log(msg)
    sys.exit(2)


def source_stamp():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main"),
             os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        files = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile graft and the harness unless the cached build matches the sources."""
    launch = os.path.join(BUILD, "launch.txt")
    stamp_file = os.path.join(BUILD, "build.stamp")
    stamp = source_stamp()
    if os.path.exists(launch) and os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return launch
    os.makedirs(BUILD, exist_ok=True)
    log("building graft and the harness with sbt")
    t0 = time.time()
    r = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true",
                        f"-Dperfbench.launch={launch}", "compile", "writeLaunch"],
                       cwd=HERE, stdout=sys.stderr, stderr=sys.stderr, timeout=840)
    if r.returncode != 0 or not os.path.exists(launch):
        fail("build failed")
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    log(f"built in {time.time() - t0:.1f}s")
    return launch


def java_cmd(launch, main, args, run_dir):
    lines = open(launch).read().splitlines()
    cp, opts = lines[0], [l for l in lines[1:] if l]
    return (["java"] + JVM_HEAP + opts +
            [f"-Djava.io.tmpdir={run_dir}/tmp", f"-Dperfbench.warehouse={run_dir}/warehouse",
             f"-Dderby.system.home={run_dir}", "-cp", cp, main] + args)


def run_jvm(cmd, run_dir, deadline):
    """Run one JVM in its own process group with fresh dirs; kill it at the deadline."""
    for d in ("tmp", "scratch", "local", "warehouse"):
        os.makedirs(os.path.join(run_dir, d), exist_ok=True)
    # MALLOC_ARENA_MAX: glibc otherwise gives each contending thread its own
    # malloc arena, and how many it makes varies from run to run
    env = dict(os.environ, GRAFT_SCRATCH_DIR=os.path.join(run_dir, "scratch"),
               SPARK_LOCAL_DIRS=os.path.join(run_dir, "local"), MALLOC_ARENA_MAX="2")
    p = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=sys.stderr, stderr=sys.stderr,
                         start_new_session=True)
    try:
        return p.wait(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        fail("run exceeded its time limit")
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


def data(launch):
    """Generate the input tables once per checkout and generator version."""
    with open(os.path.join(HERE, "src", "main", "scala", "perfbench", "DataGen.scala"), "rb") as fh:
        version = hashlib.sha256(fh.read()).hexdigest()[:12]
    out = os.path.join(BUILD, f"data-sf{SF}-d{DOCS}-v{VECS}-s{DATA_SEED}-{version}")
    if os.path.exists(os.path.join(out, "_done")):
        return out
    shutil.rmtree(out, ignore_errors=True)
    log("generating input tables")
    gen_dir = os.path.join(BUILD, "datagen")
    shutil.rmtree(gen_dir, ignore_errors=True)
    cmd = java_cmd(launch, "perfbench.DataGen", [out, SF, DOCS, VECS, DATA_SEED], gen_dir)
    if run_jvm(cmd, gen_dir, time.time() + 300) != 0:
        fail("input generation failed")
    shutil.rmtree(gen_dir, ignore_errors=True)
    open(os.path.join(out, "_done"), "w").close()
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["olap", "ingest"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, default=0, choices=[0, 1])
    ap.add_argument("--record")
    a = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail(f"graft sources not found under {ROOT}: run from a graft checkout")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    launch = build()
    data_dir = data(launch)

    deadline = time.time() + RUN_LIMIT_S
    run_dir = os.path.join(BUILD, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    try:
        out = os.path.join(run_dir, "result.json")
        args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--data", data_dir, "--work", os.path.join(run_dir, "work"),
                "--goldens", os.path.join(HERE, "goldens.tsv"), "--out", out]
        if a.record:
            args += ["--record", os.path.abspath(a.record)]
        if run_jvm(java_cmd(launch, "perfbench.Main", args, os.path.join(run_dir, "main")),
                   os.path.join(run_dir, "main"), deadline) != 0 or not os.path.exists(out):
            fail("the benchmark JVM failed")
        res = json.load(open(out))
        if "error" in res:
            fail(f"the benchmark JVM failed: {res['error']}")
        last = os.path.join(BUILD, "last", a.workload)
        shutil.rmtree(last, ignore_errors=True)
        shutil.copytree(os.path.join(run_dir, "work"), last, ignore=shutil.ignore_patterns("landing"))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    specs = bench["per_layer"] if a.trace else bench["end_to_end"]
    values = res["per_layer"] if a.trace else res["end_to_end"]
    missing = [m["name"] for m in specs if values.get(m["name"]) is None]
    if missing:
        fail(f"metrics missing from the run: {missing}")
    log(f"{a.workload} seed={a.seed}: {res['passes']} passes, {res['samples']} op samples, "
        f"setups={['%.3f' % s for s in res['setups']]}")
    for f in res["failures"]:
        log(f"FAILED {f}")
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in specs},
    }))


if __name__ == "__main__":
    main()
