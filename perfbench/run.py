"""Benchmark entry point: builds the engine and the harness, then runs one
workload (or all three) in a fresh JVM at local[nproc].

    python3 perfbench/run.py --workload dupheavy_batch --seed 42 --seconds 20 --trace 0
    python3 perfbench/run.py              # all workloads, default seed

The last line of standard output is the result object
{"correct", "attempted", "failed", "metrics"}; the lines before it name every
metric with its unit and record the session confs, nproc, heap and code
identity. The exit code is non-zero when a correctness gate fails.
"""
import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402

WORKLOADS = ["dupheavy_batch", "unique_batch", "stream_incremental"]
HEAP = "4g"
RUN_TIMEOUT_S = 170

# Spark 4 on JDK 17 outside spark-submit needs the same module opens the
# engine's build.sbt passes to forked runs.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def git_commit():
    """HEAD of the checkout, or "none" when it is not a git work tree of its own."""
    try:
        r = subprocess.run(
            ["git", "-C", build.ROOT, "rev-parse", "--show-toplevel", "HEAD"],
            capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.SubprocessError):
        return "none"
    lines = r.stdout.split()
    if r.returncode != 0 or len(lines) != 2 or \
            os.path.realpath(lines[0]) != os.path.realpath(build.ROOT):
        return "none"
    return lines[1]


def run_one(workload, args, classes, digest, commit):
    tmp = os.path.join(build.BUILD_DIR, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classes + os.pathsep + os.path.join(build.spark_jars(), "*"),
            "graft.perfbench.PerfBench",
            "--workload", workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work-dir", build.BUILD_DIR, "--source-digest", digest,
            "--git-commit", commit, "--heap", HEAP]
    try:
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True,
                              cwd=build.BUILD_DIR, timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        raise SystemExit(f"perfbench: {workload} run exceeded {RUN_TIMEOUT_S} s")
    sys.stdout.write(proc.stdout)
    sys.stdout.flush()
    lines = [ln for ln in proc.stdout.splitlines() if ln.strip()]
    try:
        result = json.loads(lines[-1]) if lines else None
    except ValueError:
        result = None
    keys = {"correct", "attempted", "failed", "metrics"}
    if proc.returncode not in (0, 1) or not isinstance(result, dict) \
            or set(result) != keys:
        raise SystemExit(f"perfbench: {workload} run ended with code "
                         f"{proc.returncode} and no result")
    return result


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", default="all", choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--seconds", type=int, default=20)
    ap.add_argument("--trace", type=int, default=0, choices=[0, 1])
    args = ap.parse_args()
    classes, digest = build.build()
    commit = git_commit()
    names = WORKLOADS if args.workload == "all" else [args.workload]
    ok = True
    for name in names:
        r = run_one(name, args, classes, digest, commit)
        ok = ok and r.get("correct") is True and r.get("failed") == 0
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
