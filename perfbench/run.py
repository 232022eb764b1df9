"""Runs one benchmark workload and prints its figures, the last line being
one JSON object: {"correct", "attempted", "failed", "metrics"}.

    python3 perfbench/run.py --workload flow_ingest --seed 1 --seconds 10 --trace 0

Workloads: flow_ingest, trend_dashboard, doc_dedup_stream (see README.md).
--trace 0 reports the end-to-end metrics; --trace 1 the per-layer ones.
Run from the checkout root; the first run builds (see build.py).
"""
import argparse
import os
import shutil
import signal
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("flow_ingest", "trend_dashboard", "doc_dedup_stream")
RUN_LIMIT_S = 170
# Spark 4 on JDK 17 outside spark-submit needs these (Spark's
# JavaModuleOptions.defaultModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", default=1, type=int)
    ap.add_argument("--seconds", default=10, type=int)
    ap.add_argument("--trace", default=0, type=int, choices=(0, 1))
    a = ap.parse_args()
    if a.seconds < 1:
        ap.error("--seconds must be at least 1")

    jar = build.build()
    work = os.path.join(build.BUILD, "work", f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    log4j = os.path.join(os.path.dirname(os.path.abspath(__file__)), "log4j2.properties")
    cmd = ["java", "-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch", "-XX:+UseG1GC", f"-Djava.io.tmpdir={tmp}", f"-Dlog4j2.configurationFile={log4j}",
           "-Xlog:disable", "-Xlog:all=warning:stderr"]
    # A class-data-sharing archive per build and workload cuts JVM and
    # Spark start-up by seconds; the first run of a workload records it.
    archive = jar[:-len(".jar")] + f"-{a.workload}.jsa"
    recording = archive + f".{os.getpid()}"
    if os.path.isfile(archive):
        cmd.append(f"-XX:SharedArchiveFile={archive}")
    else:
        cmd.append(f"-XX:ArchiveClassesAtExit={recording}")
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", jar + os.pathsep + os.path.join(build.spark_jars(), "*"), "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", work]
    started = time.time()
    proc = subprocess.Popen(cmd, cwd=work)

    def stop(signum, _frame):
        proc.kill()
        raise SystemExit(128 + signum)
    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    code = 3
    try:
        code = proc.wait(timeout=RUN_LIMIT_S)
    except subprocess.TimeoutExpired:
        print(f"run: stopped after {RUN_LIMIT_S}s", file=sys.stderr)
    finally:
        proc.kill()
        proc.wait()
        if os.path.isfile(recording):
            if code in (0, 1):
                os.replace(recording, archive)
            else:
                os.remove(recording)
        shutil.rmtree(work, onerror=lambda f, p, e: print(f"run: cleanup of {p} failed: {e[1]}", file=sys.stderr))
    print(f"run: {a.workload} seed {a.seed} took {time.time() - started:.1f}s", file=sys.stderr)
    sys.exit(code)


if __name__ == "__main__":
    main()
