#!/usr/bin/env python3
"""graft's benchmark. Usage (from the root of a checkout):

    python3 perfbench/run.py --workload articles|curate \\
        --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --selfcheck
    python3 perfbench/run.py --describe --seed N

Builds the program and the benchmark from source (perfbench/build.py),
runs the workload in one fresh JVM (perfbench.Main), and prints, as its last line, one JSON object with the
end-to-end metrics (--trace 0) or the per-layer metrics (--trace 1) that
BENCHMARK.json lists. See perfbench/README.md.
"""

import argparse
import fcntl
import json
import os
import queue
import shutil
import subprocess
import sys
import threading
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("articles", "curate")
HEAP = "3g"
RUN_LIMIT_S = 170       # a run must end within 180 s once built

# What spark-submit adds on JDK 17; the same list as build.sbt's javaOptions.
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def fail(msg, code):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


class Jvm:
    """perfbench.Main in a child JVM; stdout lines arrive on a queue, stderr
    (Spark's log) goes to a file."""

    def __init__(self, root, cp, args, log):
        tmp = os.path.join(root, build.BUILD_DIR, "tmp")
        os.makedirs(tmp, exist_ok=True)
        cmd = ["java", "-XX:-UsePerfData", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}",
               *ADD_OPENS, "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
               "-cp", cp, "perfbench.Main", *args]
        self.log_path = log
        self.log = open(log, "w")
        self.t0 = time.perf_counter()
        self.p = subprocess.Popen(cmd, cwd=root, stdout=subprocess.PIPE, stderr=self.log,
                                  text=True, bufsize=1)
        self.lines = queue.Queue()
        threading.Thread(target=self._pump, daemon=True).start()

    def _pump(self):
        for line in self.p.stdout:
            self.lines.put(line.rstrip("\n"))
        self.lines.put(None)

    def next_line(self, deadline):
        try:
            return self.lines.get(timeout=max(0.0, deadline - time.perf_counter()))
        except queue.Empty:
            self.kill()
            fail(f"timed out; log: {self.log_path}", 3)

    def wait(self, deadline):
        try:
            code = self.p.wait(timeout=max(0.0, deadline - time.perf_counter()))
        except subprocess.TimeoutExpired:
            self.kill()
            fail(f"timed out; log: {self.log_path}", 3)
        self.log.close()
        return code

    def kill(self):
        self.p.kill()
        self.p.wait()
        self.log.close()

    def tail(self, n=30):
        with open(self.log_path, errors="replace") as fh:
            return "".join(fh.readlines()[-n:])


def until_ready(jvm, deadline):
    """Seconds from the JVM's launch to its READY line."""
    while True:
        line = jvm.next_line(deadline)
        if line is None:
            jvm.wait(deadline)
            fail(f"JVM exited before its session was ready:\n{jvm.tail()}", 3)
        if line == "READY":
            return time.perf_counter() - jvm.t0
        print(line, flush=True)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selfcheck", action="store_true")
    ap.add_argument("--describe", action="store_true")
    a = ap.parse_args()
    if not (a.selfcheck or a.describe or a.workload):
        ap.error("one of --workload, --selfcheck, --describe is required")

    start = time.perf_counter()
    root = os.getcwd()
    try:
        spec = json.load(open(os.path.join(root, "BENCHMARK.json")))
        cp = build.ensure(root)
    except (OSError, ValueError, build.BuildError) as e:
        fail(str(e), 2)
    logs = os.path.join(root, build.BUILD_DIR, "logs")
    os.makedirs(logs, exist_ok=True)
    # runs share .bench_build/work: a second one at the same time would clobber it
    lock = open(os.path.join(root, build.BUILD_DIR, "lock"), "w")
    try:
        fcntl.flock(lock, fcntl.LOCK_EX | fcntl.LOCK_NB)
    except OSError:
        fail("another run is using this checkout's .bench_build", 5)
    work = os.path.join(build.BUILD_DIR, "work")
    shutil.rmtree(os.path.join(root, work), ignore_errors=True)
    common = ["--work", work, "--root", "."]

    if a.selfcheck or a.describe:
        mode = "selfcheck" if a.selfcheck else "describe"
        jvm = Jvm(root, cp, [mode, "--seed", str(a.seed), *common],
                  os.path.join(logs, f"{mode}.log"))
        deadline = start + 900
        while (line := jvm.next_line(deadline)) is not None:
            print(line, flush=True)
        code = jvm.wait(deadline)
        shutil.rmtree(os.path.join(root, work), ignore_errors=True)
        sys.exit(code)

    deadline = time.perf_counter() + RUN_LIMIT_S  # the build is not counted
    jvm = Jvm(root, cp, ["run", "--workload", a.workload, "--seed", str(a.seed),
                         "--seconds", str(a.seconds), "--trace", str(a.trace), *common],
              os.path.join(logs, f"run-{a.workload}-{a.seed}-{a.trace}.log"))
    # setup_s: this fresh JVM's launch to its ready SparkSession. One sample
    # per run: each extra JVM would cost ~8 s on a 4-core host, more than
    # the benchmark's time budget leaves (see README.md).
    setup_s = until_ready(jvm, deadline)
    result = None
    while (line := jvm.next_line(deadline)) is not None:
        if line.startswith("RESULT "):
            result = json.loads(line[len("RESULT "):])
        else:
            print(line, flush=True)
    code = jvm.wait(deadline)
    shutil.rmtree(os.path.join(root, work), ignore_errors=True)
    if code != 0 or result is None:
        fail(f"run failed (exit {code}):\n{jvm.tail()}", 3)

    values = dict(result["values"])
    if not a.trace:
        values["setup_s"] = setup_s
    wanted = spec["per_layer" if a.trace else "end_to_end"]
    missing = [m["name"] for m in wanted if m["name"] not in values]
    if missing:
        fail(f"metrics not produced: {missing}", 4)
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in wanted}
    for m in wanted:
        print(f"  {m['name']:<36} {values[m['name']]:>14.6g} {m['unit']}")
    print(f"{a.workload}: this run took {time.perf_counter() - start:.1f} s")
    print(json.dumps({"correct": bool(result["correct"]), "attempted": int(result["attempted"]),
                      "failed": int(result["failed"]), "metrics": metrics}))


if __name__ == "__main__":
    main()
