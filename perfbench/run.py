"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload rag --seed 1 --seconds 10 --trace 0

Builds the engine and the benchmark if needed (perfbench/build.py),
generates the seeded inputs (perfbench/gen.py) into
`.bench_work/<workload>/`, then runs `perfbench.Main` in a fresh JVM with a
`local[<cores>]` Spark session. `--trace 0` prints the end-to-end metrics,
`--trace 1` the per-layer metrics of a separate traced run.
"""

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

import build
import gen

# A fixed, pre-touched heap. With only a cap, G1's heap sizing made peak
# RSS bimodal on `curate` (1.9 or 2.4 GB, spread 0.26 over five seeds);
# fixed, peak RSS reads the 2 GB heap plus native memory, so it tracks
# native and off-heap growth only.
JVM_MEMORY = ["-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch"]
DEADLINE_S = 170  # the whole run, build excluded

ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(gen.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    classes = build.ensure_built()
    start = time.time()
    work = os.path.join(build.ROOT, ".bench_work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    gen.generate(a.workload, a.seed, work)
    gen_s = time.time() - start

    cp = os.pathsep.join([classes, os.path.join(build.spark_jars(), "*")])
    opens = [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
    launch_ms = int(time.time() * 1000)
    # -XX:-UsePerfData: no hsperfdata file in the system temp directory
    cmd = (["java", "-XX:-UsePerfData"] + JVM_MEMORY +
           ["-Djava.io.tmpdir=" + os.path.join(work, "tmp")] + opens +
           ["-cp", cp, "perfbench.Main", "--workload", a.workload, "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", work, "--gen-seconds", repr(gen_s),
            "--launch-ms", str(launch_ms)])
    try:
        r = subprocess.run(cmd, stdout=subprocess.PIPE, text=True,
                           timeout=max(10.0, DEADLINE_S - (time.time() - start)))
    except subprocess.TimeoutExpired:
        sys.exit("perfbench: %s run timed out" % a.workload)
    lines = r.stdout.strip().splitlines()
    if r.returncode != 0 or not lines:
        sys.exit("perfbench: %s run failed (exit %d)" % (a.workload, r.returncode))
    result = json.loads(lines[-1])
    for line in lines[:-1]:
        print(line)
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
