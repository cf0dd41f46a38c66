#!/usr/bin/env python3
"""Run one perfbench workload against the program in this checkout.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program and the benchmark from source with sbt on first use (the
build is cached under .bench_build and redone when a source file changes),
then runs the benchmark JVM. The last line of standard output is one JSON
object: {"correct", "attempted", "failed", "metrics"}.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

WORKLOADS = ("invoice_etl", "corpus_curation", "index_ingest")
BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
BUILD_TIMEOUT_S = 850
RUN_TIMEOUT_S = 170
HEAP = "-Xmx3g"


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def sources():
    """Every file the build reads: the root build and program sources, and
    the benchmark's own files (build outputs excluded)."""
    files = [os.path.join(ROOT, "build.sbt")]
    for top in (os.path.join(ROOT, "project"), os.path.join(ROOT, "src", "main"), BENCH_DIR):
        for d, dirs, names in os.walk(top):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project", "__pycache__")
                             or (d == BENCH_DIR and x == "project"))
            files += [os.path.join(d, n) for n in sorted(names)]
    return [f for f in files if os.path.isfile(f)]


def stamp():
    h = hashlib.sha256(ROOT.encode())
    for f in sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(out):
    """Compile with sbt unless the cached build matches the sources; returns
    (classpath, jvm flags)."""
    launch = os.path.join(out, "launch.txt")
    stamp_file = os.path.join(out, "stamp")
    want = stamp()
    if os.path.exists(launch) and os.path.exists(stamp_file) and open(stamp_file).read() == want:
        return read_launch(launch)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
    log = os.path.join(out, "build.log")
    with open(log, "w") as fh:
        try:
            rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "launchFile"],
                                cwd=BENCH_DIR, env=env, stdout=fh, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S).returncode
        except subprocess.TimeoutExpired:
            rc = -1
    if rc != 0:
        with open(log) as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        fail(f"build failed (exit {rc}); full log in {log}")
    shutil.copy(os.path.join(BENCH_DIR, "target", "launch.txt"), launch)
    with open(stamp_file, "w") as fh:
        fh.write(want)
    return read_launch(launch)


def read_launch(path):
    with open(path) as fh:
        lines = [l.rstrip("\n") for l in fh]
    return lines[0], [l for l in lines[1:] if l]


def on_timeout(*_):
    raise TimeoutError()


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()
    if a.seconds < 1:
        fail("--seconds must be at least 1")
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail(f"no program sources at {ROOT} (expected build.sbt and src/main/scala)")

    out = os.path.join(ROOT, ".bench_build")
    os.makedirs(out, exist_ok=True)
    cp, flags = build(out)

    work = os.path.join(out, "work", f"{a.workload}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", HEAP, "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}", f"-Dderby.system.home={work}", *flags,
           "-cp", cp, "graft.perfbench.Main",
           "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
           "--trace", str(a.trace), "--work", work, "--trace-dir", os.path.join(out, "traces")]
    err_log = os.path.join(out, f"{a.workload}-stderr.log")
    last = None
    with open(err_log, "w") as err:
        p = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, stderr=err, stdin=subprocess.DEVNULL,
                             text=True, start_new_session=True)
        try:
            signal.signal(signal.SIGALRM, on_timeout)
            signal.alarm(RUN_TIMEOUT_S)
            for line in p.stdout:
                line = line.rstrip("\n")
                if last is not None:
                    print(last, flush=True)
                last = line
            rc = p.wait()
            signal.alarm(0)
        except (TimeoutError, KeyboardInterrupt):
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            rc = -1
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
    shutil.rmtree(work, ignore_errors=True)
    try:
        result = json.loads(last or "")
        ok = set(result) == {"correct", "attempted", "failed", "metrics"}
    except ValueError:
        ok = False
    if rc != 0 or not ok:
        if last is not None:
            print(last, file=sys.stderr)
        with open(err_log) as fh:
            sys.stderr.write("".join(fh.readlines()[-30:]))
        fail(f"benchmark run failed (exit {rc}); JVM log in {err_log}")
    print(last, flush=True)


if __name__ == "__main__":
    main()
