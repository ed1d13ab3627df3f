#!/usr/bin/env python3
"""Loader-first benchmark for graft: edge_stream, bulk_merge, corpus_dedup.

Run from the repository root:

    python3 loadbench/run.py --workload bulk_merge --seed 7 --seconds 10 --trace 0

On first use it builds the program and the harness from source with sbt
(offline; the build lands in `loadbench/target` and `target/`). Each run
starts one fresh JVM, prints a stamped report line (`REPORT {...}`), one
`name value unit` line per metric, and, last, the result JSON:
`{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}`.
`--trace 0` prints the end-to-end metrics, `--trace 1` the per-layer ones
(see loadbench/README.md).
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
TARGET = os.path.join(HERE, "target")
LAUNCH = os.path.join(TARGET, "launch.txt")
DIGEST = os.path.join(TARGET, "launch.digest")
WORKLOADS = ("edge_stream", "bulk_merge", "corpus_dedup")
HEAP = "2g"
BUILD_TIMEOUT_S = 700
RUN_TIMEOUT_S = 170


def fail(msg, code=2):
    print(f"loadbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_digest():
    """SHA-256 over every file the build reads, in path order."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
             os.path.join(HERE, "src"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, subdirs, names in os.walk(r):
            subdirs[:] = sorted(s for s in subdirs if s not in ("target", "project"))
            files += [os.path.join(d, n) for n in sorted(names)
                      if n.endswith((".scala", ".java", ".sbt", ".properties"))]
    h = hashlib.sha256()
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build(digest):
    if os.path.exists(LAUNCH) and os.path.exists(DIGEST):
        with open(DIGEST) as fh:
            if fh.read().strip() == digest:
                return
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")) \
            or not os.path.isfile(os.path.join(ROOT, "build.sbt")):
        fail("the program's sources (src/main/scala/graft, build.sbt) are not here")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java are needed to build the program")
    env = dict(os.environ, COURSIER_MODE="offline")
    if not env.get("SBT_OPTS"):
        opts = ["-Dsbt.offline=true", "-Xmx2g", "-XX:-UsePerfData"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.isfile(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    t0 = time.time()
    try:
        p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeLaunch"],
                           cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                           stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail(f"build did not finish in {BUILD_TIMEOUT_S} s")
    if p.returncode != 0 or not os.path.exists(LAUNCH):
        sys.stderr.write(p.stdout.decode(errors="replace")[-4000:])
        fail("build failed")
    with open(DIGEST, "w") as fh:
        fh.write(digest + "\n")
    print(f"loadbench: built in {time.time() - t0:.1f} s", file=sys.stderr)


def git_sha():
    try:
        p = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, stdout=subprocess.PIPE,
                           stderr=subprocess.DEVNULL, timeout=10)
        return p.stdout.decode().strip() or None if p.returncode == 0 else None
    except (OSError, subprocess.TimeoutExpired):
        return None


def expected_metrics(trace):
    """(name, unit) pairs BENCHMARK.json promises for this mode."""
    path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(path):
        return None
    with open(path) as fh:
        spec = json.load(fh)
    return [(m["name"], m["unit"]) for m in spec["per_layer" if trace else "end_to_end"]]


def run_jvm(args, work, deadline):
    with open(LAUNCH) as fh:
        lines = [ln.rstrip("\n") for ln in fh]
    cp, jvm_opts = lines[0], [o for o in lines[1:] if o]
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    start_ms = int(time.time() * 1000)
    # -XX:-UsePerfData: no hsperfdata file outside the checkout
    cmd = ["java", f"-Xmx{HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}", *jvm_opts,
           "-cp", cp, "loadbench.Main", "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--work", work, "--start-ms", str(start_ms)]
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=log,
                             stdin=subprocess.DEVNULL)
        try:
            out, _ = p.communicate(timeout=max(10, deadline - time.time()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail("the run did not finish in time", 3)
    out = out.decode(errors="replace").splitlines()
    report = next((json.loads(ln[7:]) for ln in out if ln.startswith("REPORT ")), None)
    result = next((json.loads(ln[7:]) for ln in reversed(out) if ln.startswith("RESULT ")), None)
    if p.returncode != 0 or report is None or result is None:
        with open(log_path, errors="replace") as fh:
            sys.stderr.write(fh.read()[-6000:])
        fail(f"the benchmark JVM exited with {p.returncode} and no result", 3)
    return report, result


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    digest = source_digest()
    build(digest)
    load_start = os.getloadavg()
    work = os.path.join(HERE, "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        report, result = run_jvm(args, work, time.time() + RUN_TIMEOUT_S)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    # every promised metric must be printed, with its unit
    want = expected_metrics(args.trace)
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    if want is not None and dict(want) != got:
        missing = sorted(set(dict(want).items()) ^ set(got.items()))
        print(f"loadbench: printed metrics differ from BENCHMARK.json: {missing}", file=sys.stderr)
        result["correct"] = False

    report["stamp"] = {
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "spark_cores": report.pop("spark_cores"),
        "nproc": len(os.sched_getaffinity(0)),
        "xmx": HEAP,
        "loadavg_start": load_start,
        "loadavg_end": os.getloadavg(),
        "git_sha": git_sha(),
        "source_sha256": digest,
    }
    print("REPORT " + json.dumps(report, sort_keys=True))
    for name, m in report["metrics"].items():
        print(f"  {name:36s} {m['value']!r:>24} {m['unit']}")
    print(json.dumps({k: result[k] for k in ("correct", "attempted", "failed", "metrics")}))
    sys.stdout.flush()


if __name__ == "__main__":
    main()
