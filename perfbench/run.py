#!/usr/bin/env python3
"""graft benchmark harness.

Run from the root of a graft checkout:

    python3 perfbench/run.py --workload replay_bulk --seed 1 --seconds 15 --trace 0

It builds the engine and the benchmark from source (once per checkout; the
classpath is cached under .bench_build/ keyed on a hash of the sources),
runs one workload in a fresh JVM at local[4], and prints one JSON result
object as the last line of standard output. --trace 0 reports the
end-to-end metrics, --trace 1 the per-layer metrics of a traced run. See
perfbench/README.md.
"""
import argparse
import fcntl
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
BUILD = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR") or ".bench_build",
                     "perfbench")
RUNS = os.path.join(ROOT, ".perfbench", "runs")
TRACES = os.path.join(ROOT, ".perfbench", "traces")
WORKLOADS = ("replay_bulk", "consume")
JVM_TIMEOUT_S = 165
BUILD_TIMEOUT_S = 800
STALE_S = 60          # a run dir whose heartbeat is older than this is dead
HEARTBEAT_S = 2

# Spark 4 on JDK 17 outside spark-submit needs these (the engine's build.sbt
# passes the same list to its forked tests and mains).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


CHILD = None  # the running child process group (sbt or the JVM)


def kill_child():
    if CHILD is not None and CHILD.poll() is None:
        os.killpg(CHILD.pid, signal.SIGKILL)
        CHILD.wait()


def run_child(cmd, timeout, **kw):
    """Run cmd in its own process group; kill the whole group on timeout.
    Returns (exit code, stdout bytes or None)."""
    global CHILD
    CHILD = subprocess.Popen(cmd, stdin=subprocess.DEVNULL,
                             start_new_session=True, **kw)
    try:
        out, _ = CHILD.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        kill_child()
        raise SystemExit(f"{cmd[0]} exceeded {timeout} s")
    return CHILD.returncode, out


def source_fingerprint():
    """Hash of everything the build reads: the engine's build definition and
    main sources, and the benchmark's own build and main sources."""
    h = hashlib.sha256()
    roots = [("build.sbt",), ("project",), ("src", "main"),
             ("perfbench", "build.sbt"), ("perfbench", "project"),
             ("perfbench", "src", "main")]
    files = []
    for parts in roots:
        p = os.path.join(ROOT, *parts)
        if os.path.isfile(p):
            files.append(p)
        elif os.path.isdir(p):
            for d, dirs, names in os.walk(p):
                dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
                files += [os.path.join(d, n) for n in names
                          if n.endswith((".scala", ".sbt", ".properties", ".java"))
                          or "META-INF" in d]
    if not os.path.isfile(os.path.join(ROOT, "build.sbt")):
        raise SystemExit("no build.sbt at the checkout root: nothing to build")
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def classpath(fp):
    """Build (or reuse) the benchmark's runtime classpath."""
    os.makedirs(BUILD, exist_ok=True)
    cache = os.path.join(BUILD, "classpath.json")
    with open(os.path.join(BUILD, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.exists(cache):
            with open(cache) as fh:
                c = json.load(fh)
            if c.get("fingerprint") == fp:
                return c["classpath"]
        log("building engine + benchmark (sbt)")
        t0 = time.time()
        out = os.path.join(BUILD, "build.log")
        with open(out, "w") as fh:
            rc, _ = run_child(
                ["sbt", "--batch", "-Dsbt.log.noformat=true",
                 "export Runtime/fullClasspath"], BUILD_TIMEOUT_S,
                cwd=BENCH, stdout=fh, stderr=subprocess.STDOUT)
        lines = open(out).read().splitlines()
        cp = [l for l in lines if l.startswith("/") and ".jar" in l]
        if rc != 0 or not cp:
            sys.stderr.write("\n".join(lines[-40:]) + "\n")
            raise SystemExit(f"build failed (sbt exit {rc}); log: {out}")
        log(f"built in {time.time() - t0:.0f} s")
        with open(cache, "w") as fh:
            json.dump({"fingerprint": fp, "classpath": cp[-1]}, fh)
        return cp[-1]


def sweep_stale_runs():
    """Delete run dirs of dead runs. A live run touches its heartbeat file
    every HEARTBEAT_S seconds; a dir with no heartbeat yet counts from its
    own creation."""
    if not os.path.isdir(RUNS):
        return
    now = time.time()
    for name in os.listdir(RUNS):
        d = os.path.join(RUNS, name)
        hb = os.path.join(d, "heartbeat")
        try:
            seen = os.path.getmtime(hb if os.path.exists(hb) else d)
        except OSError:
            continue
        if now - seen > STALE_S:
            log(f"sweeping stale run dir {name}")
            shutil.rmtree(d, ignore_errors=True)


def host_info(fp):
    mem_kb = 0
    try:
        with open("/proc/meminfo") as fh:
            for line in fh:
                if line.startswith("MemTotal:"):
                    mem_kb = int(line.split()[1])
    except OSError:
        pass
    try:
        st = os.statvfs("/dev/shm")
        tmpfs_gb = round(st.f_blocks * st.f_frsize / 2**30, 1)
    except OSError:
        tmpfs_gb = None
    commit = None
    if os.path.isdir(os.path.join(ROOT, ".git")):
        try:
            commit = subprocess.check_output(
                ["git", "rev-parse", "HEAD"], cwd=ROOT,
                stderr=subprocess.DEVNULL).decode().strip()
        except (OSError, subprocess.CalledProcessError):
            pass
    return {"nproc": os.cpu_count(),
            "mem_total_gb": round(mem_kb / 2**20, 1),
            "tmpfs_gb": tmpfs_gb, "git_commit": commit,
            "source_fingerprint": fp[:16]}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if a.seconds < 1:
        ap.error("--seconds must be at least 1")

    signal.signal(signal.SIGTERM, lambda *x: (kill_child(), sys.exit(143)))
    fp = source_fingerprint()
    cp = classpath(fp)
    sweep_stale_runs()
    os.makedirs(RUNS, exist_ok=True)
    run_dir = os.path.join(RUNS, f"{a.workload}-{os.getpid()}-{time.time_ns()}")
    os.makedirs(os.path.join(run_dir, "tmp"))
    hb = os.path.join(run_dir, "heartbeat")
    done = threading.Event()

    def beat():
        while not done.is_set():
            with open(hb, "w") as fh:
                fh.write(str(time.time()))
            done.wait(HEARTBEAT_S)

    threading.Thread(target=beat, daemon=True).start()

    def stop():
        kill_child()
        done.set()
        shutil.rmtree(run_dir, ignore_errors=True)

    signal.signal(signal.SIGTERM, lambda *x: (stop(), sys.exit(143)))
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java, "-Xmx3g", "-XX:+UseG1GC",
           f"-Djava.io.tmpdir={run_dir}/tmp",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--workload", a.workload,
            "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--dir", run_dir]
    if a.trace:
        os.makedirs(TRACES, exist_ok=True)
        cmd += ["--trace-out",
                os.path.join(TRACES, f"{a.workload}-seed{a.seed}.jsonl")]
    result = None
    try:
        with open(os.path.join(run_dir, "jvm.log"), "w") as err:
            rc, out = run_child(cmd, JVM_TIMEOUT_S, cwd=run_dir,
                                stdout=subprocess.PIPE, stderr=err)
        lines = out.decode().splitlines()
        detail = next((l for l in reversed(lines)
                       if l.startswith("[perfbench] detail ")), None)
        if detail:
            d = json.loads(detail[len("[perfbench] detail "):])
            d["host"] = host_info(fp)
            print("[perfbench] detail " + json.dumps(d), flush=True)
        try:
            result = json.loads(lines[-1]) if lines else None
        except ValueError:
            result = None
        if not isinstance(result, dict):
            result = None
        if rc != 0 or not result or not result.get("correct"):
            with open(os.path.join(run_dir, "jvm.log")) as fh:
                tail = fh.read().splitlines()[-60:]
            sys.stderr.write("\n".join(tail) + "\n")
    finally:
        stop()
    if result is None or set(result) != {"correct", "attempted", "failed",
                                         "metrics"}:
        raise SystemExit("the benchmark JVM printed no result")
    print(json.dumps(result), flush=True)
    sys.exit(0 if result["correct"] else 1)


if __name__ == "__main__":
    main()
