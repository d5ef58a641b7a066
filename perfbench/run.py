#!/usr/bin/env python3
"""Run one workload of the paper-pipeline benchmark.

    python3 perfbench/run.py --workload catalog_session --seed 1 --seconds 15 --trace 0

Run it from the root of the repository. The first run compiles the
program and the harness from source with sbt (outputs under .bench_build/
and the builds' target/ directories); later runs reuse that build while
the sources and the compiled classes are unchanged. Each run works in its
own directory under .bench_run/ and removes it at the end; generated lakes
are kept under .bench_run/lakes/ for reuse by runs of the same seed, and
each run's artifact (per-operation walls, per-layer table, spans) is
written to .bench_results/. The last line of standard output is the result
JSON.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170
# fixed heap, so peak RSS does not hang on how far the heap happened to grow;
# no hsperfdata file outside the checkout
JVM_OPTS = ["-Xms2g", "-Xmx2g", "-XX:-UsePerfData"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_files(root):
    """Every file the build reads, in a stable order."""
    files = [os.path.join(root, "build.sbt"),
             os.path.join(root, "project", "build.properties"),
             os.path.join(BENCH_DIR, "build.sbt"),
             os.path.join(BENCH_DIR, "project", "build.properties")]
    for top in (os.path.join(root, "src", "main"), os.path.join(BENCH_DIR, "src", "main")):
        for d, _, names in sorted(os.walk(top)):
            files += [os.path.join(d, n) for n in sorted(names)]
    return files


def sources_digest(root):
    h = hashlib.sha256()
    for f in source_files(root):
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def outputs_digest(cp):
    """Path, size and mtime of every classpath entry, walking the class
    directories. The program's own build writes its classes to the same
    target/ directory, so a build is only reused while these are exactly
    what that build left. None if an entry is missing."""
    h = hashlib.sha256()
    for entry in cp.split(os.pathsep):
        if not os.path.exists(entry):
            return None
        files = [entry]
        if os.path.isdir(entry):
            files = [os.path.join(d, n) for d, _, names in sorted(os.walk(entry))
                     for n in sorted(names)]
        for f in files:
            st = os.stat(f)
            h.update(f"{f}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def run_group(cmd, timeout, **kw):
    """Run `cmd` in its own process group, kill the whole group if it is
    still running when this returns (timeout, error or SIGTERM), and wait
    for it. Returns (exit code, captured stdout or None)."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = proc.communicate(timeout=timeout)
        return proc.returncode, out
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()


def build(root, build_dir):
    """Compile with sbt unless the last build was of these same sources
    and its compiled classes are untouched since. Returns the runtime
    classpath and the program's JVM options."""
    stamp = os.path.join(build_dir, "stamp")
    cp_file = os.path.join(BENCH_DIR, "target", "runtime-classpath.txt")
    opts_file = os.path.join(BENCH_DIR, "target", "java-options.txt")
    digest = sources_digest(root)
    fresh = False
    if all(os.path.exists(f) for f in (stamp, cp_file, opts_file)):
        with open(stamp) as fh, open(cp_file) as cf:
            fresh = fh.read() == digest + "\n" + str(outputs_digest(cf.read().strip()))
    if not fresh:
        tmp = os.path.join(build_dir, "tmp")
        os.makedirs(tmp, exist_ok=True)
        env = dict(os.environ)
        env["SBT_OPTS"] = " ".join([
            env.get("SBT_OPTS", ""),
            f"-Dsbt.global.base={os.path.join(build_dir, 'sbt-global')}",
            f"-Dsbt.ivy.home={os.path.join(build_dir, 'ivy2')}",
            "-Dsbt.server.autostart=false",
            f"-Djava.io.tmpdir={tmp}", f"-Djna.tmpdir={tmp}"])
        # also reaches the JVMs the sbt script starts to probe java
        env["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
        log("building program and harness with sbt")
        t0 = time.time()
        with open(os.path.join(build_dir, "build.log"), "w") as out:
            rc, _ = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true",
                               "writeClasspath"], BUILD_TIMEOUT_S, cwd=BENCH_DIR,
                              env=env, stdout=out, stderr=subprocess.STDOUT)
        if rc != 0:
            with open(os.path.join(build_dir, "build.log")) as fh:
                sys.stderr.write("".join(fh.readlines()[-40:]))
            sys.exit(f"build failed (sbt exit {rc})")
        with open(stamp, "w") as fh, open(cp_file) as cf:
            fh.write(digest + "\n" + str(outputs_digest(cf.read().strip())))
        log(f"build took {time.time() - t0:.0f} s")
    with open(cp_file) as fh:
        cp = fh.read().strip()
    with open(opts_file) as fh:
        opts = [o for o in fh.read().split("\n") if o and not o.startswith("-Xmx")]
    return cp, opts


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", choices=["0", "1"], default="0")
    args = ap.parse_args()
    # a terminated run still stops its JVM and removes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "build.sbt"))
            and os.path.isdir(os.path.join(root, "src", "main", "scala", "graft"))):
        sys.exit("run from the repository root: the program's build.sbt and "
                 "src/main/scala/graft are not here")

    build_dir = os.path.join(root, ".bench_build")
    os.makedirs(build_dir, exist_ok=True)
    cp, opts = build(root, build_dir)

    run_dir = os.path.join(root, ".bench_run",
                           f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    lake_root = os.path.join(root, ".bench_run", "lakes")
    results = os.path.join(root, ".bench_results")
    for d in (run_dir, lake_root, results, os.path.join(run_dir, "tmp")):
        os.makedirs(d, exist_ok=True)
    artifact = os.path.join(
        results, f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    cmd = (["java"] + JVM_OPTS + [f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}"] + opts
           + ["-cp", cp, "perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", args.trace,
              "--run-dir", run_dir, "--lake-root", lake_root, "--out", artifact])
    log_path = os.path.join(run_dir, "jvm.log")
    try:
        with open(log_path, "w") as err:
            rc, out = run_group(cmd, RUN_TIMEOUT_S, stdout=subprocess.PIPE,
                                stderr=err, text=True)
        with open(log_path) as fh:
            sys.stderr.write("".join(fh.readlines()[-80:]))
        last = [l for l in out.splitlines() if l.strip()]
        if rc != 0 or not last or not last[-1].startswith("{"):
            sys.exit(f"benchmark JVM failed (exit {rc})")
        print(last[-1], flush=True)
    except subprocess.TimeoutExpired:
        sys.exit(f"benchmark JVM exceeded {RUN_TIMEOUT_S} s")
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
