#!/usr/bin/env python3
"""Build graft with the benchmark and run one workload.

Usage (from the repository root):

    python3 graftbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

The first call in a checkout compiles graft and the benchmark with sbt
(the benchmark's own build in this directory depends on the root build)
and caches the runtime classpath under `.bench_build/`. Later calls reuse
it while the sources are unchanged. The run itself is one JVM process;
its standard error goes to `.bench_build/logs/`, and its standard output
is passed through, ending with the one-line JSON result.
"""

import argparse
import hashlib
import os
import signal
import subprocess
import sys

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
OUT = os.path.join(os.getcwd(), ".bench_build")
WORKLOADS = ("commit_stream", "dedup_corpus")
# The only limit on a run's wall time (a run must end within 180 s; this
# leaves the wrapper a few seconds). The JVM sets none: past `--seconds`
# it always finishes the workload's minimum.
RUN_TIMEOUT_S = 175
BUILD_TIMEOUT_S = 700

# Spark 4 on JDK 17 outside spark-submit needs these (the same list as the
# root build's forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"graftbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    """Hash of every input of the build: graft's and the benchmark's
    sources and build definitions."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
             os.path.join(BENCH_DIR, "src", "main"),
             os.path.join(BENCH_DIR, "project")]
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(BENCH_DIR, "build.sbt")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, n) for n in sorted(names)]
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Returns the runtime classpath, compiling first if needed."""
    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"graft sources not found ({need} is missing)")
    os.makedirs(OUT, exist_ok=True)
    cp_file = os.path.join(OUT, "classpath.txt")
    stamp_file = os.path.join(OUT, "stamp.txt")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    log = os.path.join(OUT, "build.log")
    tmp = os.path.join(OUT, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    opts = env.get("SBT_OPTS", "")
    repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
    if not opts and os.path.exists(repos):
        # The offline resolution the repository's own test command uses.
        opts = ("-Dsbt.override.build.repos=true -Dsbt.offline=true "
                f"-Dsbt.repository.config={repos} -Xmx4g")
        env.setdefault("COURSIER_MODE", "offline")
    env["SBT_OPTS"] = f"{opts} -Djava.io.tmpdir={tmp}".strip()
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true",
           "-Dsbt.server.autostart=false",
           "export graftbench/Runtime/fullClasspath"]
    with open(log, "w") as lf:
        try:
            p = subprocess.run(cmd, cwd=BENCH_DIR, stdout=subprocess.PIPE,
                               stderr=lf, stdin=subprocess.DEVNULL, env=env,
                               text=True, timeout=BUILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail(f"build timed out; see {log}")
        lf.write(p.stdout)
    lines = [x for x in p.stdout.splitlines() if x.strip()]
    if p.returncode != 0 or not lines or lines[-1].startswith("["):
        fail(f"build failed (exit {p.returncode}); see {log}")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    args = ap.parse_args()

    cp = build()
    tmp = os.path.join(OUT, "tmp")
    logs = os.path.join(OUT, "logs")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(logs, exist_ok=True)
    cmd = ["java", "-Xms3g", "-Xmx3g",
           f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graftbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", args.trace,
            "--work", os.path.join(OUT, "work")]
    log = os.path.join(
        logs, f"{args.workload}-{args.seed}-{args.trace}.log")
    with open(log, "w") as lf:
        p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=lf,
                             stdin=subprocess.DEVNULL, text=True,
                             start_new_session=True)
        try:
            out, _ = p.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            fail(f"run timed out after {RUN_TIMEOUT_S} s; see {log}", 3)
    lines = [x for x in out.splitlines() if x.strip()]
    for line in lines:
        print(line)
    sys.stdout.flush()
    if p.returncode != 0:
        fail(f"run exited with {p.returncode}; see {log}", p.returncode or 1)
    if not lines or not lines[-1].startswith('{"correct"'):
        fail(f"run printed no result; see {log}", 3)


if __name__ == "__main__":
    main()
