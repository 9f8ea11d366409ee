#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload slice_etl --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run of a source revision builds
the program and the benchmark from source with sbt (offline) and keeps a
copy of the compiled classes under `.bench_build/classes-<revision>/`;
later runs of the same revision load that copy, so each revision always
runs its own bytecode even when builds of other revisions share sbt's
`target/` directories. The last line of
standard output is one JSON object with the keys `correct`, `attempted`,
`failed` and `metrics`. The exit code is 0 only when every output check
passed.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("slice_etl", "ingest_drain")
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources():
    """Every file the build reads: the program's and the benchmark's."""
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for proj in (os.path.join(ROOT, "project"), os.path.join(HERE, "project")):
        if os.path.isdir(proj):
            files += [os.path.join(proj, n) for n in os.listdir(proj)
                      if n.endswith((".sbt", ".scala", ".properties"))]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def revision(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def run_bounded(cmd, timeout, **kw):
    """Run `cmd` in its own process group; kill the group on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
        return p.returncode, out
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return None, None
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def classpath(rev):
    """Build once per source revision; return the runtime classpath, with
    the compiled class directories replaced by this revision's copies."""
    cp_file = os.path.join(BUILD, f"classpath-{rev}.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as fh:
            cp = fh.read().strip()
        if all(os.path.exists(e) for e in cp.split(os.pathsep)):
            return cp
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    # keep sbt's scratch files (server socket, file-watcher library) in
    # the checkout
    opts = f" -Djava.io.tmpdir={tmp} -XX:-UsePerfData -Dsbt.server.autostart=false"
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos) and "sbt.offline" not in env.get("SBT_OPTS", ""):
        opts += (" -Dsbt.override.build.repos=true"
                 f" -Dsbt.repository.config={repos}"
                 " -Dsbt.offline=true -Xmx3g")
    env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + opts).strip()
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as fh:
        code, out = run_bounded(
            ["sbt", "--batch", "-Dsbt.log.noformat=true",
             "export perfbench/Runtime/fullClasspath"],
            BUILD_TIMEOUT_S, cwd=HERE, env=env, stdout=subprocess.PIPE,
            stderr=fh, stdin=subprocess.DEVNULL, text=True)
        if out:
            fh.write(out)
    lines = [ln for ln in (out or "").splitlines() if ln.strip()]
    if code != 0 or not lines or "classes" not in lines[-1]:
        fail(f"build failed (exit {code}); see {log}")
    # sbt compiles every revision into the same target/ directories, so
    # snapshot this revision's class directories before anything else
    # can overwrite them
    classes = os.path.join(BUILD, f"classes-{rev}")
    staging = classes + f".tmp{os.getpid()}"
    shutil.rmtree(staging, ignore_errors=True)
    entries = []
    for n, e in enumerate(lines[-1].strip().split(os.pathsep)):
        if os.path.isdir(e) and \
                os.path.realpath(e).startswith(os.path.realpath(ROOT) + os.sep):
            shutil.copytree(e, os.path.join(staging, str(n)))
            e = os.path.join(classes, str(n))
        entries.append(e)
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(staging, classes)
    cp = os.pathsep.join(entries)
    with open(cp_file + ".tmp", "w") as fh:
        fh.write(cp)
    os.replace(cp_file + ".tmp", cp_file)
    return cp


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "build.sbt")) or \
            not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("run from the repository root: the program's sources are missing")
    rev = revision(sources())
    cp = classpath(rev)

    name = f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}"
    work = os.path.join(BUILD, "work", name)
    logs = os.path.join(BUILD, "logs")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.makedirs(logs, exist_ok=True)
    cmd = (["java", "-Xmx3g", "-XX:+UseParallelGC", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "-Dspark.ui.enabled=false", "-cp", cp] +
           [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           ["perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--work", work])
    try:
        with open(os.path.join(logs, f"{a.workload}.log"), "w") as err:
            code, out = run_bounded(cmd, RUN_TIMEOUT_S, cwd=ROOT,
                                    stdout=subprocess.PIPE, stderr=err,
                                    stdin=subprocess.DEVNULL, text=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if code is None:
        fail(f"{a.workload} did not finish within {RUN_TIMEOUT_S}s")
    lines = [ln for ln in out.splitlines() if ln.strip()]
    result = lines[-1] if lines and lines[-1].startswith("{") else None
    for ln in lines[:-1] if result else lines:
        print(ln)
    if result is None:
        fail(f"{a.workload} exited {code} without a result; see {logs}")
    print(result)
    sys.exit(0 if code == 0 else 1)


if __name__ == "__main__":
    main()
