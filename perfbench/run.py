#!/usr/bin/env python3
"""Runs one workload of the graft benchmark from the repository root.

    python3 perfbench/run.py --workload exact|ann|ingest --seed N --seconds S --trace 0|1

Builds the library and the benchmark first if their sources changed
(perfbench/build.py), then runs the benchmark JVM. Standard output ends
with one JSON line: {"correct", "attempted", "failed", "metrics"}; the
line before it is the run's full report. Exits non-zero, without a result
line, when the build or the run fails.
"""
import argparse
import json
import os
import pathlib
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent))
import build  # noqa: E402

# Spark 4 on JDK 17 outside spark-submit (matches the library's build.sbt)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
RUN_LIMIT_S = 170  # the whole run, build excluded, must end well inside 180 s


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["exact", "ann", "ingest"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    build.build()
    work_root = pathlib.Path(".bench_work").resolve()
    work = work_root / f"run-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    (work / "tmp").mkdir()
    cmd = (["java", "-Xmx3g", "-Xss16m", "-XX:+UseG1GC", "-XX:-UsePerfData",
            "-Djava.io.tmpdir=" + str(work / "tmp"),
            "-Dlog4j2.configurationFile=" + str(pathlib.Path("perfbench/log4j2.properties").resolve()),
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", build.classpath(), "graftbench.Main",
              "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", str(a.trace), "--work", str(work)])
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(work / "spark-local"))
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, env=env, start_new_session=True)

    def stop(why):
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        sys.exit(f"run: {why}")

    for sig in (signal.SIGTERM, signal.SIGINT):
        signal.signal(sig, lambda signum, _: stop(f"stopped by signal {signum}"))
    try:
        out, _ = proc.communicate(timeout=RUN_LIMIT_S)
    except subprocess.TimeoutExpired:
        stop("timed out")
    shutil.rmtree(work, ignore_errors=True)
    lines = [ln for ln in out.splitlines() if ln.strip()]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(out)
        sys.exit(f"run: benchmark exited with code {proc.returncode}")
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        sys.exit("run: malformed result line")
    for ln in lines[:-1]:
        print(ln)
    print(json.dumps(result), flush=True)


if __name__ == "__main__":
    main()
