#!/usr/bin/env python3
"""Run one benchmark workload against the program built from this checkout.

    python3 perfbench/run.py --workload etl_round --seed 1 --seconds 12 --trace 0

Run from the root of a checkout. The first run builds the program and
the benchmark from source (sbt, into .bench_build/); later runs reuse
that build while the sources are unchanged. Human-readable
metric lines go to stdout, and the last stdout line is the result:

    {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones (the traced run also writes its spans to
.bench_build/traces/). The exit code is nonzero when an output check
fails or the run cannot complete.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

WORKLOADS = ("etl_round", "curate_corpus", "stream_index", "llm_enrich")
BUILD_DIR = ".bench_build"
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
HEAP = "1536m"
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp(root):
    """Digest of every input of the build, so a stale build is never reused."""
    h = hashlib.sha256()
    tops = [os.path.join(root, "src", "main"), os.path.join(root, "perfbench", "src")]
    files = [os.path.join(root, "perfbench", "build.sbt"),
             os.path.join(root, "perfbench", "project", "build.properties")]
    for top in tops:
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def run_group(cmd, timeout, **kw):
    """Run a command in its own process group; kill the group on timeout
    or when this script is told to stop, and wait for it either way.
    """
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)

    def stop(signum, _frame):
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        sys.exit(128 + signum)

    old = {s: signal.signal(s, stop) for s in (signal.SIGTERM, signal.SIGINT)}
    try:
        out, err = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        return None, None, None
    finally:
        for s, h in old.items():
            signal.signal(s, h)
    return proc.returncode, out, err


def spark_jars():
    """Jars of the local Spark installation: $SPARK_HOME/jars, else next
    to spark-submit on the PATH.
    """
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit") or fail("Spark not found: set SPARK_HOME")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    return os.path.join(home, "jars")


def build(root):
    """Compile the program and the benchmark with sbt; returns the runtime classpath."""
    out_dir = os.path.join(root, BUILD_DIR)
    cp_file = os.path.join(out_dir, "classpath.txt")
    stamp_file = os.path.join(out_dir, "stamp")
    stamp = source_stamp(root)
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == stamp:
                with open(cp_file) as cf:
                    return cf.read().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        repos = os.path.expanduser("~/.sbt/repositories")
        opts = ["-Xmx3g"]
        if os.path.exists(repos):
            opts = ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}",
                    "-Dsbt.offline=true"] + opts
        env["SBT_OPTS"] = " ".join(opts)
    env.setdefault("SPARK_JARS", spark_jars())
    os.makedirs(out_dir, exist_ok=True)
    sbt = shutil.which("sbt") or fail("sbt not found on PATH")
    print("perfbench: building the program and the benchmark", file=sys.stderr)
    # sbt's temporary files (server socket directory) stay in the checkout
    tmp = os.path.join(out_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    code, out, _ = run_group([sbt, "--batch", "-Dsbt.log.noformat=true", f"-Djava.io.tmpdir={tmp}",
                              "-Dsbt.server.autostart=false", "compile", "writeClasspath"],
                             BUILD_TIMEOUT_S, cwd=os.path.join(root, "perfbench"), env=env,
                             stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if code != 0:
        sys.stderr.write(out or "")
        fail("build failed" if code is not None else "build timed out", 3)
    with open(cp_file) as cf:
        classpath = cf.read().strip()
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return classpath


def java_cmd(classpath, work, main, args):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ else "java"
    # -UsePerfData: no hsperfdata files outside the checkout
    opts = [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch", "-XX:-UsePerfData", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"]
    for p in JDK17_OPENS:
        opts += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return [java] + opts + ["-cp", classpath, main] + args


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala")) or \
            not os.path.isfile(os.path.join(root, "perfbench", "build.sbt")):
        fail("run from the root of a checkout of the program (src/main/scala and perfbench/ missing)")
    classpath = build(root)

    work = os.path.join(root, BUILD_DIR, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    result = os.path.join(work, "result.json")
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", a.trace, "--work", work, "--result", result]
    if a.trace == "1":
        traces = os.path.join(root, BUILD_DIR, "traces")
        os.makedirs(traces, exist_ok=True)
        args += ["--spans", os.path.join(traces, f"{a.workload}-seed{a.seed}.spans.jsonl")]
    try:
        code, out, _ = run_group(java_cmd(classpath, work, "perfbench.Main", args), RUN_TIMEOUT_S,
                                 cwd=work, stdout=subprocess.PIPE, text=True)
        if code is None:
            fail(f"{a.workload} did not finish within {RUN_TIMEOUT_S} s", 4)
        sys.stdout.write(out)
        if not os.path.exists(result):
            fail(f"{a.workload} exited with code {code} and no result", 5)
        with open(result) as fh:
            res = json.loads(fh.read())
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(res))
    sys.exit(0 if code == 0 and res["correct"] else 1)


if __name__ == "__main__":
    main()
