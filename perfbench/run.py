"""Runs one benchmark measurement and prints its result as the last line.

    python3 perfbench/run.py --workload paper-batch --seed 1 --seconds 20 --trace 0

Builds the program and the benchmark first if their sources changed
(perfbench/build.py), then runs one benchmark JVM in a private work
directory under .bench_build/perfbench/work, removed afterwards. A traced
run keeps its spans in .bench_build/perfbench/traces. Exits non-zero,
without a result line, if the build, the run or the result fails.
"""
import argparse
import json
import os
import pathlib
import shutil
import signal
import subprocess
import sys

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent))
import build  # noqa: E402

WORKLOADS = ["paper-batch", "paper-stream", "keyed-live"]
# a run must end within 180 s; the build before a first run has its own
# allowance
RUN_LIMIT_S = 175
RESULT_KEYS = {"correct", "attempted", "failed", "metrics"}


def run_jvm(args, timeout_s, extra=()):
    """Runs the benchmark JVM with `extra` arguments; returns (exit code,
    stdout lines, work directory). The caller removes the directory."""
    work = build.OUT / "work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    cmd = build.java_command(
        ["--workload", args.workload, "--seed", args.seed,
         "--seconds", args.seconds, "--trace", args.trace,
         "--work", work, *extra], work)
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True,
                            start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=timeout_s)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        print(f"[perfbench] run exceeded {timeout_s:.0f} s", file=sys.stderr)
        return 1, [], work
    return proc.returncode, out.splitlines(), work


def result_of(lines):
    """The JSON result object from the last line, or None."""
    if not lines:
        return None
    try:
        r = json.loads(lines[-1])
    except json.JSONDecodeError:
        return None
    if not isinstance(r, dict) or set(r) != RESULT_KEYS:
        return None
    return r


def main(argv=None):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=int)
    p.add_argument("--trace", required=True, choices=["0", "1"])
    args = p.parse_args(argv)
    try:
        build.build()
    except build.BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        return 2
    code, lines, work = run_jvm(args, RUN_LIMIT_S)
    try:
        if args.trace == "1" and (work / "spans.jsonl").exists():
            traces = build.OUT / "traces"
            traces.mkdir(parents=True, exist_ok=True)
            shutil.copy(work / "spans.jsonl",
                        traces / f"{args.workload}-{args.seed}.jsonl")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    result = result_of(lines)
    if code != 0 or result is None:
        print("\n".join(lines), file=sys.stderr)
        print(f"[perfbench] run failed (exit {code})", file=sys.stderr)
        return 1
    print("\n".join(lines))
    return 0


if __name__ == "__main__":
    sys.exit(main())
