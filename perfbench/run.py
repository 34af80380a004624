#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload W --seed N --seconds T --trace 0|1

Run from the root of a checkout. Builds the benchmark (graft's main
sources plus perfbench/src) with sbt when the sources changed since the
last build, runs `perfbench.Main` in one JVM at local[nproc], and turns
its raw record into metrics (perfbench/metrics.py). The last line of
stdout is the result object; the line before it is the full record,
stamped with host, JVM, revision and seed. See perfbench/BENCHMARK.md.
"""
import argparse
import glob
import hashlib
import json
import os
import platform
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
STAMP = os.path.join(HERE, "target", "perfbench-build.json")
WORKLOADS = ("corpus_build", "corpus_build_hll", "sketch_queries", "incremental_dedup",
             "stream_ingest")
RUN_LIMIT_S = 175
BUILD_LIMIT_S = 840

sys.path.insert(0, HERE)
import metrics  # noqa: E402

# JDK 17 module opens Spark needs outside spark-submit (graft's build.sbt)
ADD_OPENS = [a for p in (
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
    "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar") for a in ("--add-opens", p + "=ALL-UNNAMED")]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def source_files():
    files = []
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        files += glob.glob(os.path.join(base, "**", "*.scala"), recursive=True)
    files += [os.path.join(HERE, "build.sbt"),
              os.path.join(HERE, "project", "build.properties")]
    return sorted(files)


def fingerprint():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(fp):
    """Classpath of the built benchmark; builds with sbt when stale."""
    if os.path.exists(STAMP):
        with open(STAMP) as fh:
            st = json.load(fh)
        if st.get("fingerprint") == fp:
            return st["classpath"], 0.0
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    if os.path.exists(os.path.expanduser("~/.sbt/repositories")):
        opts.append("-Dsbt.override.build.repos=true")
    env["SBT_OPTS"] = " ".join(opts)
    t0 = time.time()
    try:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdin=subprocess.DEVNULL, capture_output=True,
            text=True, timeout=BUILD_LIMIT_S)
    except (OSError, subprocess.TimeoutExpired) as e:
        fail(f"build failed: {e}")
    lines = [l for l in p.stdout.splitlines() if l and not l.startswith("[")]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        fail("build failed")
    cp = lines[-1].strip()
    with open(STAMP, "w") as fh:
        json.dump({"fingerprint": fp, "classpath": cp}, fh)
    return cp, time.time() - t0


def host():
    with open("/proc/meminfo") as fh:
        mem_kb = next(int(l.split()[1]) for l in fh if l.startswith("MemTotal:"))
    # graft's tier-1 heap formula: half of RAM, clamped to [2, 8] GiB
    heap_g = min(8, max(2, mem_kb // 2097152))
    try:
        jvm = subprocess.run(["java", "-version"], capture_output=True, text=True,
                             timeout=30).stderr.splitlines()[0]
    except (OSError, subprocess.TimeoutExpired, IndexError):
        jvm = "unknown"
    try:
        rev = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=30).stdout.strip() or None
    except (OSError, subprocess.TimeoutExpired):
        rev = None
    return {"nproc": len(os.sched_getaffinity(0)), "mem_total_kb": mem_kb,
            "heap": f"{heap_g}g", "jvm": jvm, "git_rev": rev,
            "python": platform.python_version(), "machine": platform.machine()}


def run_jvm(cp, args, hst, limit_s):
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    out = os.path.join(run_dir, "record.json")
    cmd = (["java", f"-Xmx{hst['heap']}"] + ADD_OPENS +
           [f"-Djava.io.tmpdir={run_dir}/tmp", "-Dspark.ui.enabled=false",
            "-XX:ActiveProcessorCount=%d" % hst["nproc"], "-cp", cp, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", run_dir, "--out", out])
    log_path = os.path.join(WORK, f"jvm-{args.workload}-{args.seed}.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdout=log, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            code = proc.wait(timeout=limit_s)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            shutil.rmtree(run_dir, ignore_errors=True)
            fail(f"run exceeded {limit_s:.0f} s (log: {log_path})")
    if code != 0 or not os.path.exists(out):
        with open(log_path) as fh:
            sys.stderr.write(fh.read()[-6000:])
        shutil.rmtree(run_dir, ignore_errors=True)
        fail(f"benchmark JVM exited with {code} (log: {log_path})")
    with open(out) as fh:
        rec = json.load(fh)
    shutil.move(out, os.path.join(WORK, f"raw-{args.workload}-{args.seed}-{args.trace}.json"))
    shutil.rmtree(run_dir, ignore_errors=True)
    return rec


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    t_start = time.time()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("graft sources not found: run from the root of a graft checkout")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java are required")
    os.makedirs(WORK, exist_ok=True)
    fp = fingerprint()
    cp, build_s = build(fp)
    limit = (BUILD_LIMIT_S if build_s else RUN_LIMIT_S) - (time.time() - t_start)
    hst = host()
    rec = run_jvm(cp, args, hst, limit)

    e2e, full, attempted, failed = metrics.end_to_end(rec)
    stamp = dict(hst, seed=args.seed, workload=args.workload, trace=args.trace,
                 seconds=args.seconds, src_sha256=fp, build_s=round(build_s, 3),
                 time=time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()))
    record = {"host": stamp, "inputs": rec["inputs"], "end_to_end": full}
    if args.trace:
        record["per_layer"] = metrics.per_layer(rec)
        with open(os.path.join(WORK, f"trace-{args.workload}-{args.seed}.json"), "w") as fh:
            json.dump(dict(rec["trace"], host=stamp), fh)
        result_metrics = {k: {"value": record["per_layer"][k], "unit": u}
                          for k, u in metrics.PER_LAYER_UNITS.items()}
    else:
        result_metrics = {k: {"value": e2e[k], "unit": u}
                          for k, u in metrics.END_TO_END_UNITS.items()}
    with open(os.path.join(WORK, "results.jsonl"), "a") as fh:
        fh.write(json.dumps(record) + "\n")
    print(json.dumps({"record": record}))
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": result_metrics}))


if __name__ == "__main__":
    main()
