#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program and the benchmark
from source into `.bench_build/` at the root of the checkout.

    python3 perfbench/build.py        # prints the runtime classpath

The program (`src/main/scala`, plus `src/main/resources`) and the
benchmark (`perfbench/src`) are compiled with the Scala compiler that
ships in the Spark distribution's `jars/` directory (`$SPARK_HOME`,
default `/opt/spark`), against the same jars. Each part is rebuilt only
when a hash over its sources changes. Nothing is written outside
`.bench_build/`.
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BUILD = ROOT / ".bench_build"
PROGRAM_SRC = ROOT / "src" / "main" / "scala"
PROGRAM_RES = ROOT / "src" / "main" / "resources"
BENCH_SRC = Path(__file__).resolve().parent / "src"


class BuildError(Exception):
    pass


def spark_jars():
    jars = Path(os.environ.get("SPARK_HOME", "/opt/spark")) / "jars"
    if not any(jars.glob("scala-compiler-*.jar")):
        raise BuildError(f"no Scala compiler under {jars} (set SPARK_HOME)")
    return jars


def files_under(d, suffix=None):
    if not d.is_dir():
        return []
    return sorted(p for p in d.rglob("*")
                  if p.is_file() and (suffix is None or p.name.endswith(suffix)))


def digest(paths, extra=""):
    h = hashlib.sha256(extra.encode())
    for p in paths:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def scalac(jars, sources, out, classpath=None):
    tmp = out.with_name(out.name + ".tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    argfile = out.with_name(out.name + ".args")
    argfile.write_text("\n".join(f'"{s}"' for s in sources) + "\n")
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", f"{jars}/*",
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", str(tmp)]
    if classpath:
        cmd += ["-classpath", classpath]
    cmd.append(f"@{argfile}")
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                          text=True, timeout=840)
    if proc.returncode != 0:
        raise BuildError(f"scalac failed for {out.name}:\n{proc.stdout[-4000:]}")
    return tmp


def build_part(name, sources, resources, stamp_extra, jars, classpath=None):
    out = BUILD / name
    stamp_file = BUILD / f"{name}.stamp"
    stamp = digest(sources + resources, stamp_extra)
    if out.is_dir() and stamp_file.is_file() and stamp_file.read_text() == stamp:
        return stamp
    tmp = scalac(jars, sources, out, classpath)
    for r in resources:
        dst = tmp / r.relative_to(PROGRAM_RES)
        dst.parent.mkdir(parents=True, exist_ok=True)
        shutil.copyfile(r, dst)
    shutil.rmtree(out, ignore_errors=True)
    tmp.rename(out)
    stamp_file.write_text(stamp)
    return stamp


def build():
    """Build both parts if needed; return the runtime classpath."""
    program = files_under(PROGRAM_SRC, ".scala")
    if not program:
        raise BuildError(f"program sources not found under {PROGRAM_SRC}")
    bench = files_under(BENCH_SRC, ".scala")
    jars = spark_jars()
    BUILD.mkdir(exist_ok=True)
    program_stamp = build_part("program", program, files_under(PROGRAM_RES), "", jars)
    build_part("bench", bench, [], program_stamp, jars, classpath=str(BUILD / "program"))
    return os.pathsep.join([str(BUILD / "bench"), str(BUILD / "program"), f"{jars}/*"])


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"build: {e}", file=sys.stderr)
        sys.exit(1)
