#!/usr/bin/env python3
"""Warehouse benchmark: SCD2 reloads, index serving and streaming upserts.

Usage (from the root of a checkout):
  python3 perfbench/run.py --workload vault_history --seed 1 --seconds 10 --trace 0
  python3 perfbench/run.py --selftest

Builds the library and the benchmark program once (perfbench/build.py),
then runs one workload in a JVM with a fixed heap and Spark on one core
fewer than the machine has. The last line of standard output is one JSON
object: correct, attempted, failed and the metrics named in BENCHMARK.json
(end-to-end metrics with --trace 0, per-layer metrics with --trace 1).
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True
import build  # noqa: E402

WORKLOADS = ("vault_history", "index_serving", "stream_upsert")
HEAP = "2g"
# a run that has not finished by then is stuck (a workload run must end
# within 180 s; the self-test runs all three workloads)
TIMEOUT_S = 170
SELFTEST_TIMEOUT_S = 900

# what spark-submit would add for Spark on JDK 17
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def declared_metrics(trace):
    return [m["name"] for m in spec()["per_layer" if trace else "end_to_end"]]


def declared_workloads():
    return [w["name"] for w in spec()["workloads"]]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not a.selftest and not a.workload:
        ap.error("--workload is required")

    classpath = build.build()
    name = "selftest" if a.selftest else a.workload
    work = os.path.join(build.BUILD, "work", f"{name}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-Duser.timezone=UTC",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            f"-Dderby.system.home={work}",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classpath, "perfbench.Main", "--work", work,
              "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", str(a.trace)]
           + (["--selftest", "1"] if a.selftest else ["--workload", a.workload]))
    limit = SELFTEST_TIMEOUT_S if a.selftest else TIMEOUT_S
    # a terminated benchmark takes its JVM with it
    signal.signal(signal.SIGTERM, lambda *_: sys.exit("perfbench: terminated"))
    proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, text=True)
    try:
        out, _ = proc.communicate(timeout=limit)
    except subprocess.TimeoutExpired:
        raise SystemExit(f"perfbench: run exceeded {limit} s")
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    lines = out.rstrip("\n").split("\n")
    if a.selftest:
        print("\n".join(lines))
        sys.exit(proc.returncode)
    if proc.returncode != 0:
        print("\n".join(lines), file=sys.stderr)
        raise SystemExit(f"perfbench: JVM exited with code {proc.returncode}")
    result = json.loads(lines[-1])
    want = declared_metrics(a.trace)
    if a.workload in declared_workloads() and list(result["metrics"]) != want:
        raise SystemExit(f"perfbench: metrics {list(result['metrics'])} "
                         f"differ from BENCHMARK.json {want}")
    print("\n".join(lines[:-1]))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
