"""Benchmark entry point. Run from the repository root:

    python3 perfbench/run.py --workload xml_ingest --seed 1 --seconds 5 --trace 0
    python3 perfbench/run.py --self-test

Builds the library and the harness (perfbench/build.py) if needed, then runs
one workload in a fresh JVM holding one local[nproc] SparkSession. The JVM's
report lines are relayed; the last line of stdout is the result object
{"correct", "attempted", "failed", "metrics"}. Exits non-zero, printing no
result, when the build or the run fails. Workloads, metrics and the layer
mapping are described in perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ["xml_ingest", "xml_nested", "iterative_ops"]
JVM_TIMEOUT_S = 170


def parse_args():
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", choices=WORKLOADS)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=5.0)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--self-test", action="store_true",
                   help="run the benchmark's own tests instead of a workload")
    a = p.parse_args()
    if not a.self_test and a.workload is None:
        p.error("--workload is required")
    return a


def run_jvm(main_class, jvm_args, work):
    proc = subprocess.Popen(build.java_cmd(main_class, jvm_args, work),
                            stdout=subprocess.PIPE, text=True)
    try:
        out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.communicate()
        print(f"[perfbench] JVM exceeded {JVM_TIMEOUT_S} s; killed",
              file=sys.stderr)
        return None, None
    return proc.returncode, out


def registered(trace):
    """(name, unit) of every metric BENCHMARK.json registers for the mode."""
    with open("BENCHMARK.json") as f:
        b = json.load(f)
    return [(m["name"], m["unit"]) for m in b["per_layer" if trace else "end_to_end"]]


def valid_result(line, metrics=None):
    try:
        r = json.loads(line)
    except ValueError:
        return False
    return (isinstance(r, dict)
            and set(r) == {"correct", "attempted", "failed", "metrics"}
            and isinstance(r["attempted"], int) and r["attempted"] >= 1
            and (metrics is None or sorted(
                (k, v["unit"]) for k, v in r["metrics"].items()) == sorted(metrics)))


def main():
    a = parse_args()
    try:
        metrics = None if a.self_test else registered(a.trace)
        build.build()
    except (OSError, ValueError, KeyError) as e:
        print(f"[perfbench] BENCHMARK.json unreadable: {e}", file=sys.stderr)
        return 2
    except build.BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        return 2
    work = os.path.abspath(os.path.join(build.BUILD_DIR, "work", str(os.getpid())))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        if a.self_test:
            rc, out = run_jvm("perfbench.SelfTest", [work], work)
            sys.stdout.write(out or "")
            return 0 if rc == 0 else 1
        rc, out = run_jvm("perfbench.Main", [
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--work", work, "--trace-dir",
            os.path.join(build.BUILD_DIR, "traces")], work)
        lines = (out or "").rstrip("\n").split("\n")
        if rc != 0 or not valid_result(lines[-1], metrics):
            for line in lines:
                if not valid_result(line):
                    print(line, file=sys.stderr)
            print(f"[perfbench] run failed (exit {rc}) or its metrics do not "
                  "match BENCHMARK.json", file=sys.stderr)
            return 1
        sys.stdout.write("\n".join(lines) + "\n")
        return 0
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
