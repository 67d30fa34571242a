#!/usr/bin/env python3
"""Benchmark-local test of the seeded inputs and the argument checks.

    python3 perfbench/test_inputs.py

- The same seed gives byte-identical chain inputs (dat2 traces of both
  chain workloads plus pl72/6s4t control messages); another seed
  changes them.
- An unknown workload, a malformed seed or a missing table directory
  fails before anything is built or timed, naming the argument, and
  prints no result.
"""
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.dont_write_bytecode = True
sys.path.insert(0, str(HERE))
import build  # noqa: E402


def digest(classpath, seed):
    out = subprocess.run(
        ["java", "-XX:-UsePerfData", "-cp", classpath, "perfbench.Main", "--digest", "--seed", str(seed)],
        check=True, stdout=subprocess.PIPE, text=True, timeout=120).stdout
    return out.strip().splitlines()[-1]


def rejects(args, argument):
    p = subprocess.run([sys.executable, str(HERE / "run.py")] + args,
                       stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                       text=True, timeout=60)
    assert p.returncode != 0, f"{args} was accepted"
    assert argument in p.stderr, f"{args}: error does not name {argument}: {p.stderr!r}"
    assert p.stdout == "", f"{args} printed a result: {p.stdout!r}"


def main():
    base = ["--seconds", "1", "--trace", "0"]
    rejects(["--workload", "chain_slow", "--seed", "1"] + base, "--workload")
    rejects(["--workload", "chain_live", "--seed", "x1"] + base, "--seed")
    rejects(["--workload", "board", "--seed", "1", "--sf-dir", str(HERE / "no-such-dir")] + base,
            "--sf-dir")

    classpath = build.build()
    a, b, c = digest(classpath, 1), digest(classpath, 1), digest(classpath, 2)
    assert a == b, f"seed 1 gave two different inputs: {a} {b}"
    assert a != c, "seeds 1 and 2 gave the same inputs"
    print("ok: inputs are a function of the seed; bad arguments fail before timing")


if __name__ == "__main__":
    main()
