"""Run one benchmark workload.

    python3 perfbench/run.py --workload <name> --seed <n> \
        [--seconds 10] [--trace 0|1]

Builds the program from source if needed (see build.py), then runs the
workload in one JVM with one `local[N]` Spark session. Every file the
run reads or writes beyond the sources lives under `.bench_build/` at
the repository root. The last stdout line is the JSON result; the exit
code is 0 only when every iteration ran and every output check held.
"""
import argparse
import json
import os
import subprocess
import sys
import threading
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ["prod2vec_search", "curate_stream"]
# the JVM's own deadline: a run must end well inside 180 s
JVM_TIMEOUT_S = 170
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    try:
        classes, jars = build.build()
    except build.BuildError as e:
        print(f"perfbench: build failed: {e}", file=sys.stderr)
        return 1

    root = os.path.join(build.OUT, "scratch")
    tmp = os.path.join(root, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = [x for p in JDK17_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd = ["java", "-Xmx3g", "-Xss8m", "-XX:-UsePerfData", *opens,
           f"-Djava.io.tmpdir={tmp}",
           f"-Dspark.local.dir={tmp}",
           f"-Dspark.hadoop.hadoop.tmp.dir={os.path.join(tmp, 'hadoop')}",
           f"-Dspark.sql.warehouse.dir={os.path.join(root, 'warehouse')}",
           f"-Dderby.system.home={os.path.join(root, 'derby')}",
           f"-Dlog4j2.configurationFile={os.path.join(build.HERE, 'conf', 'log4j2.properties')}",
           "-Dspark.ui.enabled=false",
           "-Dspark.driver.host=localhost",
           "-Dspark.driver.bindAddress=127.0.0.1",
           # deep enough call sites that every job shows its graft frame
           "-Dspark.callstack.depth=80",
           "-cp", os.pathsep.join([classes, os.path.join(jars, "*")]),
           "perfbench.Main",
           "--workload", a.workload, "--seed", str(a.seed),
           "--seconds", str(a.seconds), "--trace", str(a.trace),
           "--root", root,
           "--profile", os.path.join(build.HERE, "profile", "sf01.json")]
    started = time.monotonic()
    proc = subprocess.Popen(cmd, cwd=root, stdout=subprocess.PIPE, text=True)
    # kill a JVM that overruns even when it has stopped printing
    timer = threading.Timer(JVM_TIMEOUT_S, proc.kill)
    timer.start()
    last = ""
    try:
        for line in proc.stdout:
            line = line.rstrip("\n")
            if line.startswith("{"):
                last = line
            else:
                print(line, flush=True)
        proc.wait()
    finally:
        timer.cancel()
    if time.monotonic() - started >= JVM_TIMEOUT_S:
        print(f"perfbench: run exceeded {JVM_TIMEOUT_S} s", file=sys.stderr)
        return 1
    if not last:
        print(f"perfbench: no result (exit {proc.returncode})", file=sys.stderr)
        return 1
    result = json.loads(last)
    print(json.dumps(result), flush=True)
    return proc.returncode if proc.returncode != 0 else (0 if result["correct"] else 1)


if __name__ == "__main__":
    sys.exit(main())
