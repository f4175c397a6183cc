#!/usr/bin/env python3
"""Benchmark entry point for the graft SQL engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the harness from source (sbt, perfbench/build.sbt)
when the sources changed, generates the fixtures once (fixtures.py), then
runs the workload in a fresh JVM with Spark local[k], k = usable cores.
The JVM prints the result as the last line of standard output; this
script relays it and exits with the JVM's status.

Workloads: dialect_joins, dialect_scans, dml_mixed, corpus_pipeline (see
README.md; BENCHMARK.json lists the ones the run budget admits). Everything
the benchmark writes stays under perfbench/work/.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "work")
CLASSPATH = os.path.join(HERE, "target", "bench-classpath.txt")
JVM_OPTS = os.path.join(HERE, "target", "bench-jvm-options.txt")
WORKLOADS = ("dialect_joins", "dialect_scans", "dml_mixed", "corpus_pipeline")
HEAP = "2g"


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def digest(paths):
    """Content hash of every file under the given files/directories."""
    h = hashlib.sha256()
    for top in paths:
        if os.path.isfile(top):
            files = [top]
        else:
            files = sorted(os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def up_to_date(stamp, key, outputs):
    if not all(os.path.exists(o) for o in outputs) or not os.path.exists(stamp):
        return False
    with open(stamp) as fh:
        return fh.read() == key


def write_stamp(stamp, key):
    with open(stamp, "w") as fh:
        fh.write(key)


def build():
    sources = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
               os.path.join(ROOT, "src", "main"), os.path.join(HERE, "build.sbt"),
               os.path.join(HERE, "project", "build.properties"), os.path.join(HERE, "src")]
    missing = [p for p in sources if not os.path.exists(p)]
    if missing:
        sys.exit(f"[perfbench] engine sources not found: {', '.join(missing)}")
    key = digest(sources)
    stamp = os.path.join(WORK, "build.stamp")
    if up_to_date(stamp, key, [CLASSPATH, JVM_OPTS]):
        return
    log("building engine and harness with sbt")
    env = dict(os.environ, COURSIER_MODE="offline")
    proc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                          cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
                          stdin=subprocess.DEVNULL, timeout=840)
    if proc.returncode != 0:
        sys.exit(f"[perfbench] build failed with status {proc.returncode}")
    write_stamp(stamp, key)


def fixtures():
    out = os.path.join(WORK, "fixtures")
    gen = os.path.join(HERE, "fixtures.py")
    key = digest([gen])
    stamp = os.path.join(WORK, "fixtures.stamp")
    if up_to_date(stamp, key, [out]):
        return out
    log("generating fixtures")
    shutil.rmtree(out, ignore_errors=True)
    subprocess.run([sys.executable, gen, out], check=True, stdout=sys.stderr, timeout=600)
    write_stamp(stamp, key)
    return out


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    os.makedirs(WORK, exist_ok=True)
    build()
    fx = fixtures()
    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    with open(CLASSPATH) as fh:
        classpath = fh.read().strip()
    with open(JVM_OPTS) as fh:
        jvm = [l for l in fh.read().splitlines() if l and not l.startswith("-Xmx")]
    cmd = (["java", f"-Xmx{HEAP}", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}"] + jvm +
           ["-cp", classpath, "graftbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--fixtures", fx, "--work", run_dir, "--cores", str(cores())])
    # the JVM runs in its own session; a SIGTERM to this script unwinds
    # through the finally below, which kills it
    signal.signal(signal.SIGTERM, lambda *_: sys.exit("[perfbench] terminated"))
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stdin=subprocess.DEVNULL,
                            text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=a.seconds + 150)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        sys.exit("[perfbench] workload timed out")
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    lines = out.strip().splitlines()
    if proc.returncode != 0 or not lines or not lines[-1].startswith('{"correct"'):
        sys.stderr.write(out)
        sys.exit(f"[perfbench] workload failed with status {proc.returncode}")
    sys.stdout.write(out)
    sys.stdout.flush()


if __name__ == "__main__":
    main()
