"""One benchmark run, from the repository root:

    python3 perfbench/run.py --workload search|maintain --seed N \
        --seconds S --trace 0|1

Builds the library and the benchmark if their sources changed (see
build.py), starts one JVM on the compiled classes in a scratch directory
of its own (also its `java.io.tmpdir` and Spark local dir), and removes
that directory when the JVM has ended. The last stdout line is the run's
JSON result. With `--trace 1` the span file and per-layer summary are
kept under `<build dir>/trace/<workload>-seed<N>/`.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("search", "maintain")
# Spark on JDK 17 outside spark-submit (as in the repository's build.sbt)
ADD_OPENS = [a for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
) for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
RUN_LIMIT_S = 170


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()

    classes = build.ensure()
    t0 = time.monotonic()
    bdir = build.build_dir()
    run_dir = os.path.join(bdir, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    trace_dir = os.path.join(bdir, "trace", f"{a.workload}-seed{a.seed}")
    # no hsperfdata file: HotSpot would write it under /tmp, outside the
    # run's own directory
    cmd = ["java", *ADD_OPENS, "-XX:-UsePerfData", "-Xmx3g", "-Xss8m",
           f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
           "-Dspark.ui.enabled=false",
           "-cp", build.classpath(classes), "perfbench.Main",
           "--workload", a.workload, "--seed", str(a.seed),
           "--seconds", str(a.seconds), "--trace", str(a.trace),
           "--data", os.path.join(run_dir, "data"), "--out", trace_dir]
    log_path = os.path.join(run_dir, "jvm.log")
    try:
        with open(log_path, "w") as log:
            # the JVM's working directory is the run directory, so
            # anything Spark leaves in its cwd goes with it
            proc = subprocess.Popen(cmd, cwd=run_dir, stdout=subprocess.PIPE,
                                    stderr=log, text=True)
            try:
                out, _ = proc.communicate(timeout=RUN_LIMIT_S - (time.monotonic() - t0))
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                raise SystemExit("perfbench: run exceeded its time limit")
        with open(log_path) as log:
            notes = [l.rstrip() for l in log if l.startswith("perfbench:")]
        if proc.returncode != 0:
            with open(log_path) as log:
                tail = log.readlines()[-30:]
            sys.stderr.writelines(tail)
            raise SystemExit(f"perfbench: JVM exited with {proc.returncode}")
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    lines = [l for l in out.splitlines() if l.strip()]
    result = json.loads(lines[-1]) if lines else None
    if (not isinstance(result, dict) or set(result) != {"correct", "attempted", "failed", "metrics"}
            or result["attempted"] < 1):
        raise SystemExit("perfbench: the JVM printed no valid result")
    for n in notes:
        print(n, file=sys.stderr)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
