#!/usr/bin/env python3
"""Run one closed-loop benchmark workload against the program in this checkout.

    python3 perfbench/run.py --workload search|upsert --seed N --seconds S --trace 0|1

Run it from the root of a checkout. The first run builds the program and the
harness from source with sbt into .bench_build/ (later runs reuse the build
while the sources are unchanged). All data of a run lives under
.bench_build/runs/ and is deleted when the run ends. The report goes to
stdout; its last line is the JSON result.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
HEAP = "3g"
BUILD_TIMEOUT_S = 850
RUN_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def run_group(cmd, timeout, **kw):
    """Run cmd in its own process group; kill the whole group on timeout."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, err = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        fail(f"{cmd[0]} timed out after {timeout} s", 1)
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        raise
    return proc.returncode, out, err


def source_stamp():
    h = hashlib.sha256()
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for base in (PROGRAM_SRC, os.path.join(HERE, "src", "main")):
        for d, _, names in os.walk(base):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def classpath():
    """Build (or reuse) the program + harness; return the runtime classpath."""
    if not os.path.isdir(PROGRAM_SRC) or not os.path.isfile(os.path.join(ROOT, "build.sbt")):
        fail("no program sources next to perfbench/ (run from a checkout root)")
    stamp = source_stamp()
    cache = os.path.join(BUILD, "classpath.json")
    if os.path.isfile(cache):
        with open(cache) as fh:
            saved = json.load(fh)
        if saved.get("stamp") == stamp:
            return saved["classpath"]
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, BENCH_BUILD_DIR=BUILD)
    env.setdefault("COURSIER_MODE", "offline")
    opts = env.get("SBT_OPTS", "-Xmx3g")
    for flag in ("-Dsbt.offline=true", "-Dsbt.override.build.repos=true",
                 "-Dsbt.server.autostart=false"):
        if flag.split("=")[0] not in opts:
            opts += " " + flag
    env["SBT_OPTS"] = opts
    code, out, err = run_group(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        BUILD_TIMEOUT_S, cwd=HERE, env=env, stdout=subprocess.PIPE,
        stderr=subprocess.STDOUT, text=True)
    lines = [l for l in out.splitlines() if "scala-2.13" in l and os.pathsep in l]
    if code != 0 or not lines:
        sys.stderr.write(out[-4000:])
        fail(f"build failed (sbt exit {code})")
    cp = lines[-1].strip()
    with open(cache, "w") as fh:
        json.dump({"stamp": stamp, "classpath": cp}, fh)
    return cp


def main():
    # a terminated run still stops its JVM and deletes its data
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=["search", "upsert"])
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=[0, 1])
    a = ap.parse_args()

    cp = classpath()
    run_dir = os.path.join(BUILD, "runs", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch",
            "-XX:MaxGCPauseMillis=50",
            "-Dspark.ui.enabled=false",
            "-cp", cp, "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--data", os.path.join(run_dir, "data")]
    try:
        with open(os.path.join(run_dir, "stderr.log"), "w") as errf:
            code, out, _ = run_group(cmd, RUN_TIMEOUT_S, cwd=run_dir,
                                     stdout=subprocess.PIPE, stderr=errf, text=True)
        result = None
        for line in out.splitlines():
            if line.startswith("PERFBENCH_RESULT "):
                result = line[len("PERFBENCH_RESULT "):]
            else:
                print(line)
        if result is None:
            with open(os.path.join(run_dir, "stderr.log")) as fh:
                sys.stderr.write(fh.read()[-6000:])
            fail(f"no result (exit {code})", 1)
        parsed = json.loads(result)
        if sorted(parsed) != ["attempted", "correct", "failed", "metrics"]:
            fail("malformed result line", 1)
        print(json.dumps(parsed))
        sys.stdout.flush()
        return code
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
