#!/usr/bin/env python3
"""Run one workload of the repository benchmark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1> \
        [--cores <k>] [--rate <files/s>]

Run it from the repository root. The first run builds the program from
source together with the benchmark's own code (sbt, offline) and caches the
classpath under perfbench/target; later runs reuse it until a source file
changes. The last line of stdout is the result JSON; the line before it is
the run's detail (config, seed, input manifest, the named metrics).
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
SF_DIR = os.environ.get("PERFBENCH_SF_DIR", os.path.expanduser(os.path.join("~", "testdata", "sf0.1")))
JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
RUN_TIMEOUT_S = 170


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources():
    """Every file the build reads: the program's sources and the benchmark's."""
    files = []
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, names in os.walk(base):
            files += [os.path.join(d, n) for n in names]
    files += [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    return sorted(files)


def stamp():
    h = hashlib.sha256()
    for f in sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile (if any source changed) and return the runtime classpath."""
    cp_file = os.path.join(TARGET, "classpath.txt")
    stamp_file = os.path.join(TARGET, "classpath.stamp")
    want = stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read() == want:
                with open(cp_file) as fh2:
                    return fh2.read()
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
    env["SBT_OPTS"] = (f"-Dsbt.override.build.repos=true -Dsbt.repository.config={repos} "
                       "-Dsbt.offline=true -Xmx2g")
    out = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
         "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
        timeout=850, stdin=subprocess.DEVNULL)
    lines = [l for l in out.stdout.splitlines() if l.strip()]
    if out.returncode != 0 or not lines or ":" not in lines[-1] or lines[-1].startswith("["):
        sys.stderr.write(out.stdout[-6000:])
        fail("build failed")
    os.makedirs(TARGET, exist_ok=True)
    with open(cp_file, "w") as fh:
        fh.write(lines[-1].strip())
    with open(stamp_file, "w") as fh:
        fh.write(want)
    return lines[-1].strip()


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", choices=["0", "1"], required=True)
    ap.add_argument("--cores", type=int, default=3)
    ap.add_argument("--rate", type=float, help="trickle landing rate, files/s (default: the nominal rate)")
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail(f"no program sources under {ROOT}/src/main/scala; run from the repository root")
    if not os.path.isdir(SF_DIR):
        fail(f"input tables not found at {SF_DIR}")
    cp = build()
    work = os.path.join(HERE, ".work", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    # class-data sharing: the first run of a workload archives the classes it
    # loaded; later runs map the archive instead of loading them again
    cds = os.path.join(TARGET, f"cds-{a.workload}-{stamp()[:12]}.jsa")
    if os.path.exists(cds):
        cds_opt = f"-XX:SharedArchiveFile={cds}"
    else:
        for old in os.listdir(TARGET):
            if old.startswith(f"cds-{a.workload}-") and old.endswith(".jsa"):
                os.remove(os.path.join(TARGET, old))
        cds_opt = f"-XX:ArchiveClassesAtExit={cds}"
    cmd = (["java", "-Xms3g", "-Xmx3g", "-Xss4m", "-XX:+UseG1GC", cds_opt, "-Xlog:cds=off", "-Xlog:cds+dynamic=off",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
            "-Dspark.ui.enabled=false", f"-Djava.io.tmpdir={work}"]
           + [x for p in JAVA_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", a.trace, "--cores", str(a.cores),
              "--work", work, "--sf", SF_DIR, "--cache", os.path.join(HERE, ".work", "cache")]
           + (["--rate", str(a.rate)] if a.rate else []))
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True,
                            start_new_session=True, stdin=subprocess.DEVNULL)
    try:
        stdout, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in stdout.splitlines() if l.strip()]
    try:
        result = json.loads(lines[-1])
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
    except Exception:
        sys.stderr.write(stdout[-4000:])
        fail(f"the run printed no result (exit code {proc.returncode})")
    if proc.returncode != 0:
        fail(f"the run exited with code {proc.returncode}")
    for l in lines[:-1]:
        print(l)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
