"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload exact_scan --seed 1 --seconds 6 --trace 0

Builds the engine and the benchmark from source on first use (see
build.py), then runs the workload in one JVM at local[nproc]. The result is
one JSON object: {"correct", "attempted", "failed", "metrics"}; the exit code
is 0 only when every output check passed. Everything the run writes stays
under .bench_build/ in the checkout."""
import argparse
import os
import signal
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ["exact_scan", "near_cluster"]
TIMEOUT_S = 170

# Spark 4 on JDK 17 outside spark-submit (as in the project's build.sbt)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def driver_heap():
    """As the project's test command sizes it: half the memory, 2..8 GiB."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration, ValueError):
        return "2g"


def cpus():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def java_cmd(main_class, args):
    """The JVM command line that runs `main_class` of the built classes."""
    classes = build.build()
    tmp = os.path.join(build.BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return (["java", f"-Xmx{driver_heap()}", "-XX:-UsePerfData",
             f"-Djava.io.tmpdir={tmp}",
             "-Dspark.ui.enabled=false",
             "-Dlog4j2.configurationFile=" +
             os.path.join(build.ROOT, "perfbench", "log4j2.properties")]
            + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
            + ["-cp", classes + os.pathsep + os.path.join(build.spark_home(), "jars", "*"),
               main_class] + args)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=["0", "1"])
    ap.add_argument("--corrupt", default="0", choices=["0", "1"],
                    help="damage one output row before checking (self-test)")
    args = ap.parse_args()

    cmd = java_cmd("graft.perfbench.Main", [
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", args.trace,
        "--root", build.BUILD, "--cpus", str(cpus()), "--corrupt", args.corrupt])
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True)

    def stop(signum, _frame):
        proc.kill()
        proc.wait()
        sys.exit(128 + signum)

    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        out, _ = proc.communicate(timeout=TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        print(f"perfbench: run exceeded {TIMEOUT_S} s", file=sys.stderr)
        return 3
    lines = [l for l in out.splitlines() if l.strip()]
    result = [l for l in lines if l.startswith('{"correct"')]
    for l in lines:
        if l not in result:
            print(l, file=sys.stderr)
    if result:
        print(result[-1])
    return proc.returncode if result else (proc.returncode or 2)


if __name__ == "__main__":
    sys.exit(main())
