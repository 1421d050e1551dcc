#!/usr/bin/env python3
"""graft's benchmark: one run of one workload.

    python3 perfbench/run.py --workload <fused|stream> --seed <n> \
        --seconds <s> --trace <0|1>

Run from the repository root. Builds the program from source (perfbench/
build.sh), generates the seeded inputs (perfbench/gen.py, cached per
workload, seed and size), runs them through graft's public entry points in
one JVM at local[nproc] (perfbench/src), checks every output against a
reference that does not reuse graft code (perfbench/check.py), and prints
each metric by name with its unit. The last line of stdout is one JSON
object; with --trace 0 it carries the end-to-end metrics, with --trace 1
the per-layer ones. Exits nonzero on any mismatch or failure.
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

import check  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402

# input turns per workload
SIZES = {"fused": 6000, "stream": 600}
CHECKS = {"fused": check.fused, "stream": check.stream}
JAVA_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
              "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
              "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
              "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
              "java.base/sun.nio.cs", "java.base/sun.security.action",
              "java.base/sun.util.calendar"]
HEAP = "2g"
DEADLINE_S = 170


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def steal_ticks():
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) if len(fields) > 8 else 0


def machine(nproc, steal0):
    commit = "unknown"
    try:
        commit = subprocess.run(["git", "rev-parse", "--short", "HEAD"], capture_output=True,
                                text=True, timeout=10).stdout.strip() or commit
    except OSError:
        pass
    return {"nproc": nproc, "steal_ticks": steal_ticks() - steal0,
            "loadavg": list(os.getloadavg()), "heap": f"-Xms{HEAP} -Xmx{HEAP} ParallelGC",
            "commit": commit}


def inputs(base, workload, seed):
    """Generated inputs, cached per (workload, seed, size, generator)."""
    with open(os.path.join(HERE, "gen.py"), "rb") as f:
        version = hashlib.sha256(f.read()).hexdigest()[:12]
    d = os.path.join(base, "inputs", f"{workload}-s{seed}-n{SIZES[workload]}-{version}")
    t0 = time.monotonic()
    if not os.path.exists(os.path.join(d, "_DONE")):
        tmp = d + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        gen.generate(workload, seed, SIZES[workload], tmp)
        open(os.path.join(tmp, "_DONE"), "w").close()
        shutil.rmtree(d, ignore_errors=True)
        os.rename(tmp, d)
    return d, time.monotonic() - t0


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    start = time.monotonic()
    steal0 = steal_ticks()

    if not (os.path.isdir("src/main/scala/graft") and os.path.isfile("build.sbt")):
        fail("run from the root of a graft checkout (src/main/scala/graft and build.sbt)")
    base = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    build = subprocess.run(["bash", os.path.join(HERE, "build.sh")], stdout=sys.stderr)
    if build.returncode != 0:
        fail("build failed")
    classes = os.path.join(base, "classes")
    with open(os.path.join(classes, ".jars")) as f:
        jars = f.read().strip()

    input_dir, gen_s = inputs(base, a.workload, a.seed)
    run_dir = os.path.abspath(os.path.join(base, "runs", f"{a.workload}-trace{a.trace}"))
    out_dir, work_dir = os.path.join(run_dir, "out"), os.path.join(run_dir, "work")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(out_dir)
    os.makedirs(os.path.join(work_dir, "tmp"))

    nproc = len(os.sched_getaffinity(0))
    cmd = ["java", *[x for p in JAVA_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")],
           f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseParallelGC", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={work_dir}/tmp",
           "-cp", f"{os.path.abspath(classes)}:{jars}/*", "graft.perfbench.Runner",
           "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
           "--trace", str(a.trace), "--cpus", str(nproc),
           "--input", os.path.abspath(input_dir), "--out", out_dir, "--work", work_dir]
    with open(os.path.join(run_dir, "jvm.log"), "w") as log:
        try:
            jvm = subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT,
                                 timeout=max(30, DEADLINE_S - (time.monotonic() - start)))
        except subprocess.TimeoutExpired:
            fail(f"runner timed out; see {run_dir}/jvm.log")
    if jvm.returncode != 0 or not os.path.exists(os.path.join(out_dir, "result.json")):
        fail(f"runner exited {jvm.returncode}; see {run_dir}/jvm.log")
    with open(os.path.join(out_dir, "result.json")) as f:
        res = json.load(f)

    errs = CHECKS[a.workload](res, input_dir, out_dir)
    if "materialize" in res:
        errs += check.materialize(res["materialize"], input_dir, out_dir, work_dir)
    errs += res["errors"]
    shutil.rmtree(work_dir, ignore_errors=True)

    mach = machine(nproc, steal0)
    print(f"# {a.workload} seed={a.seed} machine={json.dumps(mach)}")
    print(f"# inputs {input_dir}: {res['turns']} turns, generated in {gen_s:.3f} s "
          f"(not part of setup_s)")
    walls = [r["wall_s"] for r in res["reps"]]
    tail = metrics.tail_pct(len(walls))
    print(f"# wall_s: median {metrics.median(walls):.4f} s, "
          + (f"p{tail:g} {metrics.pct(walls, tail):.4f} s" if tail else "no tail percentile")
          + f", n={len(walls)} reps")
    batch_ms = [x for r in res["reps"] for x in r.get("batch_ms", [])]
    if batch_ms:
        tail = metrics.tail_pct(len(batch_ms))
        print(f"# batch latency: p50 {metrics.pct(batch_ms, 50):.2f} ms, "
              f"p{tail:g} {metrics.pct(batch_ms, tail):.2f} ms, n={len(batch_ms)} batches")
    for e in errs:
        print(f"# MISMATCH {e}")

    if a.trace:
        spans = metrics.read_spans(os.path.join(out_dir, "spans.jsonl"))
        ms = metrics.per_layer(res, spans, gen_s)
        print(f"# spans: {out_dir}/spans.jsonl")
    else:
        ms = metrics.end_to_end(res)
    for k, (v, unit) in ms.items():
        print(f"{k} {v:.6g} {unit}")
    with open(os.path.join(out_dir, "machine.json"), "w") as f:
        json.dump(mach, f)
    print(json.dumps({"correct": not errs, "attempted": res["attempted"],
                      "failed": res["failed"],
                      "metrics": {k: {"value": v, "unit": u} for k, (v, u) in ms.items()}}))
    sys.exit(1 if errs else 0)


if __name__ == "__main__":
    main()
