#!/usr/bin/env python3
"""DICOM ETL benchmark: one command that builds the program, generates a
seeded corpus, drives the program through its public entry points, checks
its outputs and prints every metric with its unit.

    python3 perfbench/run.py --workload etl_small_objects --seed 1 \\
        --seconds 10 --trace 0

Run it from the repository root. The last line of standard output is one
JSON object: {"correct", "attempted", "failed", "metrics"}. With --trace 0
the metrics are the end-to-end ones, with --trace 1 the per-layer ones.
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
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402

BUILD_DIR = ".bench_build"
WORK_DIR = ".bench_work"
HARNESS = os.path.join(HERE, "harness")
JVM_HEAP = "1536m"
# ingest_stream publishes one burst about every this many seconds on a
# 4-core box (its micro-batch plus the feeder's pause), so a run of S seconds
# measures about S / BURST_S bursts, after one warm-up burst
BURST_S = 1.0
RUN_LIMIT_S = 170.0
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print("# " + msg, flush=True)


def source_stamp(root):
    """Hash of every input of the build, so a stale build is never reused."""
    h = hashlib.sha256()
    tops = [os.path.join(root, p) for p in ("build.sbt", "project", "src/main")]
    tops += [os.path.join(HARNESS, p) for p in ("build.sbt", "project", "src")]
    for top in tops:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) if "target" not in d.split(os.sep)
            for f in fs)
        for p in paths:
            h.update(p.encode() + b"\0")
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build(root):
    """Compile the program and the harness with sbt (offline); return the
    runtime classpath. Reused while the sources are unchanged."""
    os.makedirs(BUILD_DIR, exist_ok=True)
    stamp = source_stamp(root)
    cp_file = os.path.join(BUILD_DIR, "classpath.txt")
    stamp_file = os.path.join(BUILD_DIR, "stamp.txt")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", "-Dsbt.repository.config=" + repos]
    env["SBT_OPTS"] = " ".join(opts)
    t0 = time.time()
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "harness/compile",
         "export harness/Runtime/fullClasspath"],
        cwd=HARNESS, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:])
        raise SystemExit("build failed")
    cp = [l for l in p.stdout.splitlines() if l and not l.startswith("[")][-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log("build: %.1f s" % (time.time() - t0))
    return cp


def cpu_ticks():
    """(steal, total) jiffies of all CPUs, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields)


def main():
    # a terminated run still stops its JVM and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=gen.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "build.sbt"))
            and os.path.isdir(os.path.join(root, "src", "main", "scala", "graft"))):
        sys.stderr.write("perfbench: run from the repository root (no program sources here)\n")
        return 2
    classpath = build(root)

    t_start = time.time()
    nproc = len(os.sched_getaffinity(0))
    stream = a.workload == "ingest_stream"
    # Spark gets half the cores: at local[4] etl_small_objects kept Spark's
    # task threads busy a fifth of the time, while the driver, JIT, GC and
    # the stream's feeder need the rest; on a 4-core box local[2] ran 10 %
    # slower than local[4] when idle but lost 10 % instead of 26 % to one
    # competing busy thread
    cores = max(1, min(4, nproc) // 2)
    work_root = os.path.join(root, WORK_DIR, "%s-%d-%d" % (a.workload, a.seed, os.getpid()))
    corpus, work = os.path.join(work_root, "corpus"), os.path.join(work_root, "work")
    os.makedirs(os.path.join(work, "tmp"))
    proc = None
    try:
        t0 = time.time()
        n_bursts = 1 + max(3, round(a.seconds / BURST_S))
        exp = gen.generate(a.workload, a.seed, corpus, stream_bursts_n=n_bursts)
        log("corpus: %d objects, %.1f MB, %d images, generated in %.1f s"
            % (exp["objects"], exp["input_bytes"] / 2**20, exp["images"], time.time() - t0))
        cmd = (["java", "-Xms" + JVM_HEAP, "-Xmx" + JVM_HEAP, "-XX:-UsePerfData",
                "-Djava.io.tmpdir=" + os.path.join(work, "tmp")]
               + [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
               + ["-cp", classpath, "perfbench.Harness",
                  "--workload", a.workload, "--corpus", corpus, "--work", work,
                  "--seconds", str(a.seconds), "--trace", str(a.trace), "--cores", str(cores),
                  "--max-inline", str(gen.MAX_INLINE_BYTES)])
        ticks0 = cpu_ticks()
        with open(os.path.join(work, "harness.log"), "w") as logf:
            proc = subprocess.Popen(cmd, cwd=work, stdout=logf, stderr=subprocess.STDOUT)
            try:
                rc = proc.wait(timeout=max(10.0, RUN_LIMIT_S - (time.time() - t_start)))
            except subprocess.TimeoutExpired:
                rc = None
        if rc != 0:
            with open(os.path.join(work, "harness.log")) as f:
                sys.stderr.write(f.read()[-6000:])
            sys.stderr.write("perfbench: harness %s\n"
                             % ("timed out" if rc is None else "exited with %d" % rc))
            return 1
        with open(os.path.join(work, "harness.log")) as f:
            for line in f:
                if line.startswith("[perfbench] "):
                    log(line[len("[perfbench] "):].rstrip())
        with open(os.path.join(work, "result.json")) as f:
            result = json.load(f)
        correct, attempted, failed, metrics, problems = check.judge(exp, result, a.trace == 1)
        if a.trace:  # keep the spans and the raw record of the traced run
            kept = os.path.join(root, WORK_DIR, "trace-%s-%d.json" % (a.workload, a.seed))
            with open(kept, "w") as f:
                json.dump(result, f)
            log("trace record: " + os.path.relpath(kept, root))
        log("conf: " + json.dumps(dict(result["conf"], **{
            "jvm.heap": JVM_HEAP, "nproc": nproc,
            "stream.bursts": len(exp["bursts"]) if stream else None})))
        log("setup rounds (s): %s" % ["%.3f" % s for s in result["setup_s"]])
        steal = [b - a for a, b in zip(ticks0, cpu_ticks())]
        log("cpu steal during the run: %.1f%%" % (100.0 * steal[0] / max(1, steal[1])))
        if stream:
            lat = check.burst_latencies(result["stream"][0])
            log("burst latencies (s): %s" % ["%.3f" % (max(v) / 1e3) for _, v in sorted(lat.items())])
        for p in problems[:20]:
            log("MISMATCH " + p)
        print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                          "metrics": metrics}), flush=True)
        return 0
    finally:
        if proc is not None and proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(work_root, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
