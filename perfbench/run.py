#!/usr/bin/env python3
"""Build and run the collection-run benchmark (see README.md beside this file).

    python3 perfbench/run.py --workload fresh_full --seed 1 --seconds 10 --trace 0

Run it from the root of the repository. The first run compiles the collector
and the benchmark with sbt and records the classpath under perfbench/.work;
later runs reuse it until a source or build file changes. Every file the
benchmark writes stays under perfbench/ and the build's target directories.
"""
import argparse
import os
import signal
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = HERE / ".work"
CLASSPATH = WORK / "classpath.txt"
BUILD_TIMEOUT_S = 600
RUN_TIMEOUT_S = 170

# Spark on JDK 17 outside spark-submit needs these (the collector's build
# passes the same list to its forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def sources():
    """Every file the build reads: the collector's and the benchmark's."""
    yield ROOT / "build.sbt"
    yield HERE / "build.sbt"
    for tree in (ROOT / "src" / "main", ROOT / "project", HERE / "src", HERE / "project"):
        for dirpath, dirnames, filenames in os.walk(tree):
            dirnames[:] = [d for d in dirnames if d not in ("target", "project")]
            for f in filenames:
                yield Path(dirpath) / f


def stale():
    if not CLASSPATH.exists():
        return True
    built = CLASSPATH.stat().st_mtime
    return any(p.stat().st_mtime > built for p in sources() if p.exists())


def run_group(cmd, timeout, **kw):
    """Runs `cmd` in its own process group and kills the whole group if it
    overruns `timeout` or this script is stopped."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = proc.communicate(timeout=timeout)
        return proc.returncode, out
    except subprocess.TimeoutExpired:
        sys.stderr.write(f"perfbench: {cmd[0]} timed out after {timeout} s\n")
        return 124, None
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()


def build():
    WORK.mkdir(parents=True, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true",
           "export perfbench/Runtime/fullClasspath"]
    code, out = run_group(cmd, BUILD_TIMEOUT_S, cwd=HERE, env=env, text=True,
                          stdout=subprocess.PIPE, stderr=subprocess.STDOUT)
    lines = [l for l in (out or "").splitlines() if l.strip()]
    if code != 0 or not lines or "perfbench" not in lines[-1]:
        errors = [l for l in lines if l.startswith("[error]")]
        sys.stderr.write("\n".join(errors[:40] or lines[-40:]) + "\n")
        sys.exit("perfbench: build failed")
    CLASSPATH.write_text(lines[-1].strip())


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=["0", "1"])
    args = ap.parse_args()
    # a stop request unwinds through run_group, which kills its children
    signal.signal(signal.SIGTERM, lambda signum, frame: sys.exit(128 + signum))

    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        sys.exit(f"perfbench: no collector sources next to {HERE.name}/; "
                 "run from a checkout of the repository")
    if stale():
        build()

    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
    cmd = [java, "-Xms3g", "-Xmx3g", f"-Djava.io.tmpdir={WORK / 'tmp'}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", CLASSPATH.read_text().strip(), "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", args.trace,
            "--work", str(WORK / "run")]
    (WORK / "tmp").mkdir(parents=True, exist_ok=True)
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(WORK / "run" / "spark-local"))
    code, _ = run_group(cmd, RUN_TIMEOUT_S, cwd=ROOT, env=env)
    sys.exit(code)


if __name__ == "__main__":
    main()
