#!/usr/bin/env python3
"""Linkage benchmark entry point.

    python3 linkbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Builds the engine and the benchmark from source on
first use (sbt, offline), then runs one workload in a fresh JVM and relays its
record: the last stdout line is the JSON result. Everything the run writes stays
under linkbench/ (target/ for the build, work/ for inputs, outputs and records).
"""
import argparse
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
CLASSPATH = os.path.join(HERE, "target", "classpath.txt")
WORKLOADS = ("auto_link", "text_near_dup")
RUN_TIMEOUT_S = 170
HEAP = "3g"

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def newest_source_mtime():
    newest = 0.0
    for top in (ENGINE_SRC, os.path.join(HERE, "src", "main"), os.path.join(HERE, "build.sbt"),
                os.path.join(HERE, "project", "build.properties")):
        if os.path.isfile(top):
            newest = max(newest, os.path.getmtime(top))
        for d, _, files in os.walk(top):
            for f in files:
                newest = max(newest, os.path.getmtime(os.path.join(d, f)))
    return newest


def build():
    """Compiles engine + benchmark with sbt unless the classpath file is current."""
    if os.path.exists(CLASSPATH) and os.path.getmtime(CLASSPATH) >= newest_source_mtime():
        return
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true "
                           f"-Dsbt.repository.config={repos} -Xmx2g")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
           "writeClasspath"]
    print(f"[linkbench] building: {' '.join(cmd)}", file=sys.stderr, flush=True)
    res = subprocess.run(cmd, cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
                         stdin=subprocess.DEVNULL, timeout=800)
    if res.returncode != 0 or not os.path.exists(CLASSPATH):
        sys.exit(f"[linkbench] build failed (exit {res.returncode})")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()

    if not os.path.isdir(ENGINE_SRC):
        sys.exit(f"[linkbench] engine sources not found under {os.path.relpath(ENGINE_SRC)}; "
                 "run from a checkout of the repository")
    build()
    with open(CLASSPATH) as f:
        classpath = f.read().strip()

    runs = os.path.join(HERE, "work")
    work = os.path.join(runs, f"run-{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    cmd = (["java", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classpath, "linkbench.Main",
              "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", a.trace, "--work", work])
    t0 = time.time()
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stdin=subprocess.DEVNULL,
                            text=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        sys.exit(f"[linkbench] run exceeded {RUN_TIMEOUT_S}s and was stopped")
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
    shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines or not lines[-1].startswith("{"):
        sys.stderr.write(out)
        sys.exit(f"[linkbench] run failed (exit {proc.returncode})")
    print(f"[linkbench] {a.workload} seed {a.seed}: {time.time() - t0:.1f}s wall",
          file=sys.stderr)
    for line in lines:
        print(line)


if __name__ == "__main__":
    main()
