#!/usr/bin/env python3
"""One command for the benchmark of the DAQ chain and the query board.

    python3 perfbench/run.py --workload chain_live|chain_drain|board \
        --seed N --seconds N --trace 0|1 [--sf-dir DIR]

Run from the root of a checkout. Builds the program from source into
`.bench_build/` (see build.py), runs the workload in one JVM on Spark
`local[nproc]`, checks the program's outputs, prints every metric by
name with its unit, and ends with one JSON line:
{"correct", "attempted", "failed", "metrics"}. `--trace 0` reports the
end-to-end metrics; `--trace 1` runs the workload untraced and then
traced, and reports the per-layer metrics plus the tracing overhead
(traced minus untraced end-to-end value, as a share of the untraced).

`--sf-dir` (default `$PERFBENCH_SF_DIR`, else /root/testdata/sf0.1) is
the star-schema table directory the board reads; see README.md.
"""
import argparse
import ctypes
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.dont_write_bytecode = True
sys.path.insert(0, str(HERE))
import build  # noqa: E402

WORKLOADS = ("chain_live", "chain_drain", "board")
TABLES = ("region nation customer supplier part orders lineitem "
          "events documents embeddings").split()
DEFAULT_SF = "/root/testdata/sf0.1"
# the whole command must end within 180 s, whatever the JVMs do
DEADLINE_S = 172
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
# end-to-end figures whose tracing overhead the traced run reports
OVERHEAD_OF = ("cpu_ms_per_item", "items_per_s", "latency_p50_ms")


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", required=True)
    ap.add_argument("--seconds", required=True)
    ap.add_argument("--trace", required=True)
    ap.add_argument("--sf-dir",
                    default=os.environ.get("PERFBENCH_SF_DIR", DEFAULT_SF))
    a = ap.parse_args(argv)
    if a.workload not in WORKLOADS:
        fail(f"--workload: unknown workload {a.workload!r} "
             f"(one of {', '.join(WORKLOADS)})")
    try:
        a.seed = int(a.seed)
        if a.seed < 0:
            raise ValueError
    except ValueError:
        fail(f"--seed: expected a non-negative integer, got {a.seed!r}")
    try:
        a.seconds = int(a.seconds)
        if not 1 <= a.seconds <= 120:
            raise ValueError
    except ValueError:
        fail(f"--seconds: expected an integer from 1 to 120, got {a.seconds!r}")
    if a.trace not in ("0", "1"):
        fail(f"--trace: expected 0 or 1, got {a.trace!r}")
    a.trace = a.trace == "1"
    if a.workload == "board":
        missing = [t for t in TABLES
                   if not os.path.isfile(os.path.join(a.sf_dir, f"{t}.parquet"))]
        if missing:
            fail(f"--sf-dir: {a.sf_dir!r} lacks table(s) "
                 f"{', '.join(missing)} (.parquet)")
    return a


def die_with_parent():
    """Linux: the JVM gets SIGKILL when this process ends, however it ends."""
    ctypes.CDLL(None, use_errno=True).prctl(1, signal.SIGKILL)  # PR_SET_PDEATHSIG


def run_jvm(classpath, args, traced, run_dir, deadline):
    """One workload run in its own JVM; returns its result object."""
    shutil.rmtree(run_dir, ignore_errors=True)
    (run_dir / "tmp").mkdir(parents=True)
    out = run_dir / "result.json"
    log = run_dir / "jvm.log"
    # a fixed, pre-touched heap: peak RSS then moves with native memory
    # (state store, code cache, buffers), not with when the heap grew.
    # C1 only, so the JIT settles within a run; C1 alone defaults to a
    # 48 MB code cache, which the chain's per-batch generated code fills
    # in about half a minute, so give it the tiered default
    cmd = ["java", "-Xms3g", "-Xmx3g", "-XX:+AlwaysPreTouch",
           "-XX:TieredStopAtLevel=1", "-XX:ReservedCodeCacheSize=240m",
           "-Xss8m", "-XX:-UsePerfData"]
    cmd += [f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS]
    cmd += [f"-Djava.io.tmpdir={run_dir / 'tmp'}",
            f"-Dspark.local.dir={run_dir / 'spark-local'}",
            f"-Dspark.sql.warehouse.dir={run_dir / 'warehouse'}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", classpath, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", "1" if traced else "0",
            "--work", str(run_dir / "work"), "--out", str(out)]
    if args.workload == "board":
        cmd += ["--sf-dir", args.sf_dir,
                "--board", str(HERE / "board_expected.txt")]
    env = dict(os.environ)
    env["GRAFT_TMPFS_SCRATCH"] = "0"
    for k in ("SPARK_LOCAL_DIRS", "GRAFT_STATE_STORE",
              "GRAFT_STATE_STORE_HIGH_CHURN"):
        env.pop(k, None)
    with open(log, "w") as lf:
        proc = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT,
                                cwd=run_dir, env=env,
                                preexec_fn=die_with_parent)
        try:
            rc = proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = None
    if rc != 0 or not out.is_file():
        tail = log.read_text(errors="replace").splitlines()[-40:]
        print("\n".join(tail), file=sys.stderr)
        fail(f"workload JVM {'timed out' if rc is None else f'exited {rc}'}"
             f" (log {log})")
    return json.loads(out.read_text())


def show(res, title):
    print(f"== {title}")
    print("host " + json.dumps(res["host"], sort_keys=True))
    for name, m in sorted(res["named"].items()):
        print(f"  {name:26s} {m['value']:>14.4f} {m['unit']}")
    for name, m in res["metrics"].items():
        print(f"  {name:26s} {m['value']:>14.4f} {m['unit']}")
    print("checks " + json.dumps(res["detail"], sort_keys=True))


def main(argv):
    args = parse_args(argv)
    try:
        classpath = build.build()
    except build.BuildError as e:
        fail(f"build failed: {e}")
    deadline = time.time() + DEADLINE_S
    runs = build.BUILD / "runs"
    tag = f"{args.workload}-{args.seed}-{os.getpid()}"
    t0 = time.time()
    res = run_jvm(classpath, args, False, runs / tag, deadline)
    show(res, f"{args.workload} seed {args.seed} untraced")
    metrics = res["metrics"]
    if args.trace:
        traced = run_jvm(classpath, args, True, runs / (tag + "-traced"), deadline)
        show(traced, f"{args.workload} seed {args.seed} traced")
        metrics = dict(traced["per_layer"])
        def figure(r, k):
            return (r["metrics"].get(k) or r["named"][k])["value"]
        for k in OVERHEAD_OF:
            base, val = figure(res, k), figure(traced, k)
            metrics[f"trace.overhead.{k}"] = {
                "value": (val - base) / base if base else 0.0, "unit": "ratio"}
        for name, m in metrics.items():
            print(f"  {name:34s} {m['value']:>16.4f} {m['unit']}")
        print("self_s " + json.dumps(traced["self_s"], sort_keys=True))
        if traced.get("trace_file"):
            keep = build.BUILD / "traces"
            keep.mkdir(exist_ok=True)
            dst = keep / Path(traced["trace_file"]).name
            shutil.copyfile(traced["trace_file"], dst)
            print(f"spans written to {dst}")
        res = {**res, "correct": res["correct"] and traced["correct"],
               "attempted": res["attempted"] + traced["attempted"],
               "failed": res["failed"] + traced["failed"]}
        shutil.rmtree(runs / (tag + "-traced"), ignore_errors=True)
    shutil.rmtree(runs / tag, ignore_errors=True)
    print(f"wall {time.time() - t0:.1f} s")
    print(json.dumps({"correct": res["correct"], "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main(sys.argv[1:])
