"""Build file of the benchmark.

Compiles the engine's sources (`src/main/scala`) together with the
benchmark's own (`cfbench/src`) using the Scala compiler that ships in
Spark's `jars` directory, so no build tool and no download is needed.
The output goes to `<build dir>/classes-<digest>`, where the digest covers
every source file; a later run with unchanged sources reuses it.

    python3 cfbench/build.py            # prints the classes directory
"""

import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD_DIR = os.path.join(ROOT, ".bench_build")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
ENGINE_RESOURCES = os.path.join(ROOT, "src", "main", "resources")
BENCH_SRC = os.path.join(HERE, "src")


class BuildError(Exception):
    pass


def spark_jars():
    """Spark's jars directory: `$SPARK_HOME/jars`, else next to the
    `spark-submit` found on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home, "jars") if home else ""
    if not os.path.isdir(jars):
        raise BuildError("Spark not found: set SPARK_HOME")
    return jars


def java():
    home = os.environ.get("JAVA_HOME")
    exe = os.path.join(home, "bin", "java") if home else shutil.which("java")
    if not exe or not os.path.exists(exe):
        raise BuildError("java not found: set JAVA_HOME")
    return exe


def _scala_files(top):
    out = []
    for d, _, files in os.walk(top):
        out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def build():
    """Compiles if needed; returns the classes directory."""
    engine = _scala_files(ENGINE_SRC)
    if not engine:
        raise BuildError("no engine sources under src/main/scala")
    sources = engine + _scala_files(BENCH_SRC)
    jars = spark_jars()
    digest = hashlib.sha256()
    digest.update(" ".join(sorted(os.listdir(jars))).encode())
    for f in sources + _resource_files():
        digest.update(os.path.relpath(f, ROOT).encode() + b"\0")
        with open(f, "rb") as fh:
            digest.update(fh.read())
    dest = os.path.join(BUILD_DIR, "classes-" + digest.hexdigest()[:16])
    if os.path.exists(os.path.join(dest, ".complete")):
        return dest

    tmp = "%s.tmp-%d" % (dest, os.getpid())
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    args_file = os.path.join(tmp, ".sources")
    with open(args_file, "w") as fh:
        fh.write("\n".join(sources) + "\n")
    cp = os.path.join(jars, "*")
    print("cfbench: compiling %d sources" % len(sources), file=sys.stderr)
    proc = subprocess.run(
        [java(), "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
         "-nowarn", "-d", tmp, "-cp", cp, "@" + args_file],
        stdout=sys.stderr, stderr=sys.stderr)
    if proc.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError("scalac failed with exit code %d" % proc.returncode)
    for f in _resource_files():
        target = os.path.join(tmp, os.path.relpath(f, ENGINE_RESOURCES))
        os.makedirs(os.path.dirname(target), exist_ok=True)
        shutil.copyfile(f, target)
    open(os.path.join(tmp, ".complete"), "w").close()
    shutil.rmtree(dest, ignore_errors=True)
    os.rename(tmp, dest)
    for old in os.listdir(BUILD_DIR):
        path = os.path.join(BUILD_DIR, old)
        if old.startswith("classes-") and path != dest:
            shutil.rmtree(path, ignore_errors=True)
    return dest


def _resource_files():
    out = []
    for d, _, files in os.walk(ENGINE_RESOURCES):
        out += [os.path.join(d, f) for f in files]
    return sorted(out)


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        sys.exit("cfbench: build failed: %s" % e)
