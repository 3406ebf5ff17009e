#!/usr/bin/env python3
"""graft benchmark launcher.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py record     # rewrite perfbench/expected/fingerprints.tsv

Builds the harness and graft's sources with sbt when they changed
(offline; the classpath is cached under perfbench/target), then runs one
benchmark JVM and prints its one-line JSON result as the last line of
stdout. Everything the JVM logs goes to stderr. Exits non-zero, printing
no result, when the sources, fixture or build are missing or a run fails.
"""
import argparse
import hashlib
import json
import os
import signal
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
GRAFT_SRC = os.path.join(ROOT, "src", "main", "scala")
DATA = os.path.join(BENCH, "data", "sf0.01")
EXPECTED = os.path.join(BENCH, "expected", "fingerprints.tsv")
WORK = os.path.join(BENCH, "work")
STAMP = os.path.join(BENCH, "target", "perfbench-build.json")
WORKLOADS = ("olap_warm", "state_build_serve", "incr_delta")

RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 700
JVM_HEAP = "3g"
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    h = hashlib.sha256()
    for top in (GRAFT_SRC, os.path.join(BENCH, "src", "main")):
        for d, dirs, files in sorted(os.walk(top)):
            dirs.sort()
            for f in sorted(files):
                p = os.path.join(d, f)
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    for f in ("build.sbt", os.path.join("project", "build.properties")):
        with open(os.path.join(BENCH, f), "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def run_group(cmd, timeout, **kw):
    """Run cmd in its own process group; kill the whole group on timeout
    or when this launcher is itself terminated."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)

    def on_signal(signum, _frame):
        try:
            os.killpg(p.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        p.wait()
        sys.exit(128 + signum)

    for sig in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
        signal.signal(sig, on_signal)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        for sig in (signal.SIGTERM, signal.SIGKILL):
            try:
                os.killpg(p.pid, sig)
            except ProcessLookupError:
                break
            try:
                p.wait(timeout=10)
                break
            except subprocess.TimeoutExpired:
                continue
        p.wait()
        fail(f"timed out after {timeout} s: {' '.join(cmd[:3])} ...")
    finally:
        try:
            os.killpg(p.pid, signal.SIGKILL)  # stragglers the child left behind
        except (ProcessLookupError, PermissionError):
            pass
        for sig in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
            signal.signal(sig, signal.SIG_DFL)
    return p.returncode, out


def classpath():
    """Compile if the sources changed; return the runtime classpath."""
    stamp = source_stamp()
    try:
        with open(STAMP) as fh:
            cached = json.load(fh)
        if cached["stamp"] == stamp:
            return cached["classpath"]
    except (OSError, ValueError, KeyError):
        pass
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Dsbt.override.build.repos=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts.append(f"-Dsbt.repository.config={repos}")
    env["SBT_OPTS"] = " ".join(opts)
    t0 = time.time()
    rc, out = run_group(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.supershell=false",
         "compile", "export Runtime/fullClasspath"],
        BUILD_TIMEOUT_S, cwd=BENCH, env=env, stdout=subprocess.PIPE,
        stderr=sys.stderr, stdin=subprocess.DEVNULL, text=True)
    if rc != 0:
        sys.stderr.write(out)
        fail(f"build failed (sbt exit {rc})")
    cp = [l for l in out.splitlines() if "scala-library" in l and os.pathsep in l
          and not l.startswith("[")]
    if not cp:
        fail("build printed no classpath")
    os.makedirs(os.path.dirname(STAMP), exist_ok=True)
    with open(STAMP, "w") as fh:
        json.dump({"stamp": stamp, "classpath": cp[-1].strip()}, fh)
    print(f"[perfbench] built in {time.time() - t0:.1f} s", file=sys.stderr)
    return cp[-1].strip()


def java_cmd(cp, main, args):
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    return (["java", *opens, f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", "-XX:TieredStopAtLevel=1",
             "-Duser.timezone=UTC",
             f"-Djava.io.tmpdir={tmp}",
             f"-Dlog4j2.configurationFile={os.path.join(BENCH, 'log4j2.properties')}",
             "-cp", cp, main] + args)


def main():
    if len(sys.argv) > 1 and sys.argv[1] == "record":
        record = True
        a = None
    else:
        record = False
        ap = argparse.ArgumentParser()
        ap.add_argument("--workload", required=True, choices=WORKLOADS)
        ap.add_argument("--seed", required=True, type=int)
        ap.add_argument("--seconds", required=True, type=int)
        ap.add_argument("--trace", required=True, choices=("0", "1"))
        a = ap.parse_args()
        if a.seconds < 1:
            fail("--seconds must be at least 1")
    if not os.path.isdir(os.path.join(GRAFT_SRC, "graft")):
        fail(f"graft sources not found at {GRAFT_SRC}")
    for p in (DATA, EXPECTED, os.path.join(BENCH, "build.sbt")):
        if not os.path.exists(p):
            fail(f"missing {p}")

    t0 = time.time()
    cp = classpath()
    budget = RUN_TIMEOUT_S if time.time() - t0 < 5 else max(60, 880 - int(time.time() - t0))
    os.makedirs(WORK, exist_ok=True)
    if record:
        rc, _ = run_group(java_cmd(cp, "perfbench.Record", [DATA, WORK, EXPECTED]),
                          budget, stdout=sys.stderr, stdin=subprocess.DEVNULL)
        sys.exit(rc)

    out = os.path.join(WORK, f"result-{a.workload}-{a.seed}-{a.trace}.json")
    if os.path.exists(out):
        os.remove(out)
    rc, _ = run_group(
        java_cmd(cp, "perfbench.Main", [
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", a.trace, "--data", DATA, "--work", WORK, "--out", out,
            "--expected", EXPECTED]),
        budget, stdout=sys.stderr, stdin=subprocess.DEVNULL)
    os.sync()  # flush this run's writes now, not during the next run
    if rc != 0 or not os.path.exists(out):
        fail(f"benchmark JVM failed (exit {rc})")
    with open(out) as fh:
        line = fh.read().strip()
    json.loads(line)
    print(line, flush=True)


if __name__ == "__main__":
    main()
