#!/usr/bin/env python3
"""Pipeline benchmark: omicidx DAG (cold build, daily refresh), curation DAG
and corpus queries, timed end to end and split by layer.

    python3 pipebench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the checkout root. Builds the program from source (see build.py),
runs one JVM for the workload and prints, as the last stdout line, one JSON
object with `correct`, `attempted`, `failed` and `metrics`. Workloads:
omicidx_build, omicidx_daily, curation, corpus_queries. `--size tiny` runs
the smoke-test sizes. Scratch state lives under .bench_build/pipebench and
is removed when the run ends; traced runs keep their span file under
.bench_build/pipebench/traces.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ["omicidx_build", "omicidx_daily", "curation", "corpus_queries"]
JVM_TIMEOUT_S = 170
# Spark on JDK 17 outside spark-submit needs the module opens it injects.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", choices=["0", "1"], default="0")
    ap.add_argument("--size", choices=["full", "tiny"], default="full")
    a = ap.parse_args()

    try:
        classes, jars = build.build()
    except (build.BuildError, subprocess.TimeoutExpired) as e:
        print(f"[pipebench] build error: {e}", file=sys.stderr)
        return 2

    work = os.path.join(build.OUT, "work", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    # build.sbt's code cache: a full one stops JIT compiling. The heap is
    # fixed (-Xms = -Xmx) to steady GC between runs, and sized to a small
    # shared host rather than build.sbt's 32g default. -UsePerfData keeps
    # the JVM's perf file out of /tmp.
    cmd = ["java", "-Xms3g", "-Xmx3g", "-XX:ReservedCodeCacheSize=1g",
           "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classes + os.pathsep + os.path.join(jars, "*"),
            "pipebench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", a.trace, "--size", a.size,
            "--work", work, "--traces", os.path.join(build.OUT, "traces")]

    proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=subprocess.PIPE,
                            text=True)

    def stop(signum, _frame):
        proc.kill()
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        sys.exit(128 + signum)

    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        print(f"[pipebench] run exceeded {JVM_TIMEOUT_S}s", file=sys.stderr)
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)

    result = None
    for line in out.splitlines():
        if line.startswith("PIPEBENCH_RESULT "):
            result = json.loads(line[len("PIPEBENCH_RESULT "):])
        else:
            print(line, file=sys.stderr)
    if proc.returncode != 0 or result is None:
        print(f"[pipebench] run failed (exit {proc.returncode})", file=sys.stderr)
        return 1
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
