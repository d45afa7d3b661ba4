"""Build file of the benchmark: compiles the program and the benchmark.

The program's sources (src/main/scala) and the benchmark's own sources
(perfbench/src) are compiled together with the Scala compiler that the
Spark distribution ships, against the Spark jars -- the compiler version
(scalaVersion) and classpath (unmanagedBase) that the repository's
build.sbt names; $SPARK_HOME/jars overrides the latter. No sbt, no
dependency resolution: everything the build writes lands in
`.bench_build/` of the checkout. A stamp over the source bytes skips the
compile when nothing changed.

    python3 perfbench/build.py     # prints the runtime classpath
"""

import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

BUILD_DIR = ".bench_build"


class BuildError(Exception):
    pass


def _sources(root):
    program = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"),
                               recursive=True))
    bench = sorted(glob.glob(os.path.join(root, "perfbench/src/**/*.scala"),
                             recursive=True))
    return program, bench


def _build_sbt(root):
    """The Scala version and the Spark jars directory build.sbt names."""
    with open(os.path.join(root, "build.sbt")) as fh:
        text = fh.read()
    version = re.search(r'scalaVersion\s*:=\s*"([^"]+)"', text)
    base = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', text)
    if not (version and base):
        raise BuildError("build.sbt names no scalaVersion or unmanagedBase")
    jars = (os.path.join(os.environ["SPARK_HOME"], "jars") if "SPARK_HOME" in os.environ
            else base.group(1))
    return version.group(1), jars


def ensure(root):
    """Compiles if the sources changed; returns the runtime classpath."""
    program, bench = _sources(root)
    if not program:
        raise BuildError("no program sources under src/main/scala -- "
                         "run from the root of a graft checkout")
    if not bench:
        raise BuildError("no benchmark sources under perfbench/src")
    scala_version, jar_dir = _build_sbt(root)
    jars = sorted(glob.glob(os.path.join(jar_dir, "*.jar")))
    if not jars:
        raise BuildError(f"no Spark jars under {jar_dir} (set SPARK_HOME)")
    compiler = [os.path.join(jar_dir, f"scala-{m}-{scala_version}.jar")
                for m in ("compiler", "library", "reflect")]
    for j in compiler:
        if not os.path.isfile(j):
            raise BuildError(f"missing {j}: the Spark distribution must ship "
                             f"Scala {scala_version}")

    h = hashlib.sha256(scala_version.encode())
    for f in program + bench:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = h.hexdigest()

    classes = os.path.join(root, BUILD_DIR, "classes")
    stamp_file = os.path.join(classes, "STAMP")
    cp = os.pathsep.join([classes] + jars)
    if os.path.isfile(stamp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == stamp:
                return cp

    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    os.makedirs(os.path.join(root, BUILD_DIR, "tmp"), exist_ok=True)
    argfile = os.path.join(root, BUILD_DIR, "scalac.args")
    with open(argfile, "w") as fh:
        fh.write("\n".join(f'"{s}"' for s in program + bench) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
           "-Djava.io.tmpdir=" + os.path.join(root, BUILD_DIR, "tmp"),
           "-cp", os.pathsep.join(compiler), "scala.tools.nsc.Main",
           "-usejavacp:false", "-nowarn",
           "-classpath", os.pathsep.join(jars), "-d", tmp, "@" + argfile]
    print(f"build: compiling {len(program)} program + {len(bench)} benchmark "
          "sources", file=sys.stderr, flush=True)
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise BuildError(f"scalac failed with exit code {r.returncode}")
    with open(os.path.join(tmp, "STAMP"), "w") as fh:
        fh.write(stamp + "\n")
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    return cp


if __name__ == "__main__":
    try:
        print(ensure(os.getcwd()))
    except BuildError as e:
        print(f"build: {e}", file=sys.stderr)
        sys.exit(2)
