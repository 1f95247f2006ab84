#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload pol_bulk --seed 1 --seconds 12 --trace 0

Run from the repository root. The first run builds the engine and the
harness from source (build.py). Each run gets a fresh JVM whose
java.io.tmpdir and spark.local.dir live in a private work directory,
deleted afterwards. The last line of stdout is one JSON object with the
keys correct, attempted, failed and metrics; the exit code is 0 only if
every run succeeded and every output check held.
"""
import argparse
import json
import os
import sys

sys.dont_write_bytecode = True  # the benchmark writes only under .perfbench/
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("pol_bulk", "pol_delta", "curate_nightly")
JVM_TIMEOUT_S = 170


def declared_metrics(root, trace):
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        bench = json.load(f)
    return {m["name"]: m["unit"] for m in bench["per_layer" if trace else "end_to_end"]}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    expected = declared_metrics(root, args.trace)
    build_dir, jars = build.build(root)
    tag = "%s-seed%d-trace%d" % (args.workload, args.seed, args.trace)
    work = os.path.join(root, ".perfbench", "work", "%s-%d" % (tag, os.getpid()))
    code, out = build.run_jvm(build.java_cmd(build_dir, jars, work, [
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--report", os.path.join(root, ".perfbench", "results", tag + ".json")]),
        work, JVM_TIMEOUT_S)
    if code is None:
        raise SystemExit("perfbench: %s timed out after %d s" % (tag, JVM_TIMEOUT_S))

    lines = out.rstrip("\n").split("\n")
    for line in lines[:-1]:
        print(line)
    try:
        result = json.loads(lines[-1])
    except ValueError:
        raise SystemExit("perfbench: no result (exit code %d)" % code)
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    if result["correct"] and got != expected:
        result["correct"] = False
        print("perfbench: metrics %s do not match BENCHMARK.json %s"
              % (sorted(got), sorted(expected)), file=sys.stderr)
    print(json.dumps(result))
    sys.exit(0 if result["correct"] and code == 0 else 1)


if __name__ == "__main__":
    main()
