#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine (src/main/scala) and the
benchmark program (perfbench/src) from source with the Scala compiler that
ships in Spark's jars, into .bench_build/ at the repository root.

    python3 perfbench/build.py          # prints the classpath it built

Outputs are keyed by a hash of their sources, so an unchanged tree is not
recompiled. The root build.sbt is not used or touched.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
ENGINE_RES = os.path.join(ROOT, "src", "main", "resources")
BENCH_SRC = os.path.join(HERE, "src")


class BuildError(Exception):
    pass


def spark_jars():
    """Spark's jar directory: $SPARK_HOME, else the install spark-submit runs from."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not home:
        raise BuildError("Spark not found: set SPARK_HOME")
    jars = os.path.join(home, "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise BuildError(f"no Spark distribution with a Scala compiler under {home}")
    return os.path.join(jars, "*")


def files_under(d, suffix=""):
    out = []
    for base, _, names in os.walk(d):
        out += [os.path.join(base, n) for n in names if n.endswith(suffix)]
    return sorted(out)


def digest(paths):
    h = hashlib.sha256()
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()[:16]


def compile_to(name, sources, classpath, resources=None):
    """Compile `sources` into .bench_build/<name>-<hash>/ unless present."""
    if not sources:
        raise BuildError(f"no sources for {name}")
    inputs = sources + (files_under(resources) if resources else [])
    out = os.path.join(BUILD, f"{name}-{digest(inputs)}")
    if os.path.exists(os.path.join(out, ".done")):
        return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(BUILD, f"{name}.args")
    with open(argfile, "w") as f:
        f.write("\n".join(sources))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", spark_jars(), "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-d", tmp]
    if classpath:
        cmd += ["-classpath", os.pathsep.join(classpath)]
    r = subprocess.run(cmd + ["@" + argfile], stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        raise BuildError(f"compiling {name} failed:\n{r.stdout[-4000:]}")
    if resources and os.path.isdir(resources):
        shutil.copytree(resources, tmp, dirs_exist_ok=True)
    open(os.path.join(tmp, ".done"), "w").close()
    for stale in glob.glob(os.path.join(BUILD, f"{name}-*")):
        if stale != tmp:
            shutil.rmtree(stale, ignore_errors=True)
    os.rename(tmp, out)
    return out


def build():
    """Return the runtime classpath (engine, benchmark, Spark jars)."""
    if not os.path.isdir(ENGINE_SRC):
        raise BuildError(f"engine sources not found at {ENGINE_SRC}")
    os.makedirs(BUILD, exist_ok=True)
    engine = compile_to("engine", files_under(ENGINE_SRC, ".scala"), [], ENGINE_RES)
    bench = compile_to("bench", files_under(BENCH_SRC, ".scala"), [engine])
    return [bench, engine, spark_jars()]


if __name__ == "__main__":
    try:
        print(os.pathsep.join(build()))
    except BuildError as e:
        print(f"build: {e}", file=sys.stderr)
        sys.exit(2)
