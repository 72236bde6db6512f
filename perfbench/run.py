#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload dispatch --seed 1 --seconds 20 --trace 0

Run from the repository root. The first run builds the program and the
benchmark (sbt, through perfbench/build.sbt) and records the classpath under
.bench_build/perfbench/; later runs rebuild only when a source or build file
changed. The measurement itself runs in a plain JVM (see
graft.perfbench.Main for what one run does). The build's class directories
are packed into jars so that the JVM can keep a class-data-sharing archive
of the classes a run loads: the first run after a build writes it at exit,
later runs map it and start Spark in about half the time.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import time
import zipfile

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
STATE = os.path.join(ROOT, ".bench_build", "perfbench")
WORK = os.path.join(ROOT, ".bench_build", "perfbench-work")
WORKLOADS = ("dispatch", "ingest", "batch_round")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def build_inputs():
    """Every file whose change requires a rebuild."""
    files = []
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src", "main")):
        for d, _, names in os.walk(base):
            files += [os.path.join(d, n) for n in names]
    files += [os.path.join(ROOT, "build.sbt"),
              os.path.join(ROOT, "project", "build.properties"),
              os.path.join(BENCH, "build.sbt"),
              os.path.join(BENCH, "project", "build.properties")]
    return sorted(files)


def stamp():
    h = hashlib.sha256()
    for f in build_inputs():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run_bounded(cmd, cwd, timeout, **kw):
    """Run `cmd` in its own process group; on timeout kill the group and
    wait for it."""
    p = subprocess.Popen(cmd, cwd=cwd, start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise
    return p.returncode, out


def launch():
    """(classpath, JVM options), building first when the sources changed."""
    want = stamp()
    stamp_file = os.path.join(STATE, "stamp")
    launch_file = os.path.join(STATE, "launch")
    if os.path.exists(stamp_file) and os.path.exists(launch_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == want:
                with open(launch_file) as fh:
                    return parse_launch(fh.read())
    log("building (sbt compile)")
    t0 = time.time()
    code, out = run_bounded(["sbt", "-batch", "-Dsbt.log.noformat=true", "compile", "printLaunch"],
                            BENCH, BUILD_TIMEOUT_S, stdout=subprocess.PIPE,
                            stdin=subprocess.DEVNULL, text=True)
    if code != 0:
        sys.stderr.write(out)
        raise SystemExit(f"build failed (exit {code})")
    log(f"built in {time.time() - t0:.1f} s")
    lines = [l for l in out.splitlines() if l.startswith(("CLASSPATH=", "JAVAOPT="))]
    os.makedirs(STATE, exist_ok=True)
    lines = [("CLASSPATH=" + pack_dirs(l[len("CLASSPATH="):])) if l.startswith("CLASSPATH=") else l
             for l in lines]
    for old in os.listdir(STATE):
        if old.endswith(".jsa"):
            os.remove(os.path.join(STATE, old))
    with open(launch_file, "w") as fh:
        fh.write("\n".join(lines) + "\n")
    with open(stamp_file, "w") as fh:
        fh.write(want + "\n")
    return parse_launch("\n".join(lines))


def pack_dirs(cp):
    """The classpath with each class directory replaced by a jar of it: a
    class-data-sharing archive takes classes from jars only."""
    jars = os.path.join(STATE, "jars")
    shutil.rmtree(jars, ignore_errors=True)
    os.makedirs(jars)
    out = []
    for i, entry in enumerate(cp.split(os.pathsep)):
        if os.path.isdir(entry):
            jar = os.path.join(jars, f"{i:02d}-classes.jar")
            with zipfile.ZipFile(jar, "w", zipfile.ZIP_STORED) as z:
                for d, _, names in os.walk(entry):
                    for n in sorted(names):
                        f = os.path.join(d, n)
                        z.write(f, os.path.relpath(f, entry))
            entry = jar
        out.append(entry)
    return os.pathsep.join(out)


def parse_launch(text):
    cp, opts = None, []
    for line in text.splitlines():
        if line.startswith("CLASSPATH="):
            cp = line[len("CLASSPATH="):]
        elif line.startswith("JAVAOPT="):
            opt = line[len("JAVAOPT="):]
            # the heap is sized here, not by the program's build
            if not opt.startswith("-Xmx"):
                opts.append(opt)
    if not cp:
        raise SystemExit("no classpath recorded by the build")
    return cp, opts


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            raise SystemExit(f"program sources not found: {need} is missing at the repository root")

    cp, opts = launch()
    work = os.path.join(WORK, a.workload)
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cache = os.path.join(STATE, "cache", stamp()[:16])
    for old in os.listdir(os.path.dirname(cache)) if os.path.isdir(os.path.dirname(cache)) else []:
        if old != os.path.basename(cache):
            shutil.rmtree(os.path.join(os.path.dirname(cache), old), ignore_errors=True)
    os.makedirs(cache, exist_ok=True)
    # the class-data-sharing archive: written at exit by the first run
    # after a build, mapped by the later ones; JVM log lines go to stderr,
    # so stdout stays the benchmark's own
    jsa = os.path.join(STATE, "classes.jsa")
    share = (f"-XX:SharedArchiveFile={jsa}" if os.path.exists(jsa)
             else f"-XX:ArchiveClassesAtExit={jsa}")
    cmd = (["java", "-Xms2g", "-Xmx2g", "-XX:+UseParallelGC", "-XX:-UseAdaptiveSizePolicy", f"-Djava.io.tmpdir={tmp}",
            "-Dgraft.snapshot.reuse=false", share, "-Xlog:disable", "-Xlog:all=warning:stderr"] + opts +
           ["-cp", cp, "graft.perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", work, "--cache", cache])
    # the JVM's working directory holds the program's snapshot root
    # (<cwd>/target/graft-ckpt-shared): keep it beside the benchmark's other
    # outputs, apart from the repository's own target/
    try:
        code, out = run_bounded(cmd, WORK, RUN_TIMEOUT_S, stdout=subprocess.PIPE,
                                stdin=subprocess.DEVNULL, text=True)
    except subprocess.TimeoutExpired:
        raise SystemExit(f"run exceeded {RUN_TIMEOUT_S} s")
    lines = [l for l in out.splitlines() if l.strip()]
    if code != 0 or not lines or not lines[-1].startswith('{"correct"'):
        sys.stderr.write(out)
        raise SystemExit(f"benchmark JVM failed (exit {code})")
    for l in lines[:-1]:
        print(l)
    print(lines[-1], flush=True)


if __name__ == "__main__":
    main()
