#!/usr/bin/env python3
"""Run one workload of the graft benchmark.

    python3 perfbench/run.py --workload <live|maintain> --seed <n> \
        --seconds <s> --trace <0|1>

Builds the engine and the harness from source (see build.py), runs the
workload in one JVM with Spark `local[N]` (N = min(4, processors - 1)) and relays its
output: one `name value unit` line per metric, then, as the last line, the
JSON result `{"correct", "attempted", "failed", "metrics"}`. `--trace 0`
reports the end-to-end metrics; `--trace 1` the per-layer ledger
(perfbench/ledger.json). All files the run writes stay under
`.bench_build/perfbench`; the run's work directory is removed at the end.
Exits non-zero, without a result line, if the build or the run fails.
"""
import argparse
import os
import shutil
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

DEADLINE_S = 175  # the whole run, after the build, must end within this
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["live", "maintain"])
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", default="0", choices=["0", "1"])
    a = ap.parse_args()
    try:
        classes, jars = build.build()
    except build.BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        return 2
    t0 = time.monotonic()
    work = os.path.join(build.BUILD, "work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    # a fixed heap and the throughput collector: no heap resizing, and
    # fewer concurrent GC threads competing with Spark's task threads
    cmd = (["java", "-Xms3g", "-Xmx3g", "-XX:+UseParallelGC", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"]
           + opens + ["-cp", os.pathsep.join([classes] + jars), "graft.perfbench.Main",
                      "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                      "--trace", a.trace, "--work", work])
    log = os.path.join(build.BUILD, f"{a.workload}.stderr.log")
    with open(log, "w") as err:
        p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err, text=True, cwd=work)
        try:
            out, _ = p.communicate(timeout=max(1, DEADLINE_S - (time.monotonic() - t0)))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            print("run exceeded its deadline", file=sys.stderr)
            return 3
        finally:
            shutil.rmtree(work, ignore_errors=True)
    lines = out.rstrip("\n").split("\n")
    result = lines[-1] if lines and lines[-1].startswith("{") else None
    for line in lines[:-1] if result else lines:
        print(line)
    if p.returncode != 0 or result is None:
        with open(log) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        if result is not None and p.returncode == 1:
            print(result)  # checks failed: the result says which were counted
        return p.returncode or 4
    print(result)
    return 0


if __name__ == "__main__":
    sys.exit(main())
