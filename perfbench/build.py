"""Build file of the benchmark package.

Compiles the engine (``src/main/scala``) and the benchmark harness
(``perfbench/src``) with the Scala compiler that ships among Spark's
jars, into jars under ``.bench_build/``. Spark's jar directory is
``$SPARK_HOME/jars``, or the ``jars`` directory beside the
``spark-submit`` found on ``PATH``. A stage is skipped when the digest of
its sources matches its last successful build.

    python3 perfbench/build.py        # prints the run classpath
"""
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(ROOT, "perfbench", "src")


class BuildError(Exception):
    pass


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home, "jars") if home else ""
    if not jars or not os.path.isdir(jars):
        raise BuildError("Spark jars not found: set SPARK_HOME")
    return jars


def java():
    home = os.environ.get("JAVA_HOME")
    exe = os.path.join(home, "bin", "java") if home else shutil.which("java")
    if not exe or not os.path.exists(exe):
        raise BuildError("java not found: set JAVA_HOME")
    return exe


def sources(root):
    if not os.path.isdir(root):
        raise BuildError(f"no sources at {os.path.relpath(root, ROOT)}")
    found = []
    for d, _, files in os.walk(root):
        found += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    if not found:
        raise BuildError(f"no Scala sources under {os.path.relpath(root, ROOT)}")
    return sorted(found)


def digest(files, extra=""):
    h = hashlib.sha256(extra.encode())
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def compile_stage(name, files, classpath, key):
    """Compiles `files` into `<name>/` and packs the classes into
    `<name>.jar` (the JVM's class-data archive takes jars, not
    directories); returns the jar."""
    out = os.path.join(BUILD, name)
    jar = out + ".jar"
    stamp = os.path.join(BUILD, name + ".digest")
    if os.path.exists(stamp) and open(stamp).read() == key and os.path.exists(jar):
        return jar
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    args_file = os.path.join(BUILD, name + ".sources")
    with open(args_file, "w") as fh:
        fh.write("\n".join(files) + "\n")
    cmd = [java(), "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
           "-Djava.io.tmpdir=" + BUILD, "-cp", os.path.join(spark_jars(), "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", out,
           "-classpath", classpath, "@" + args_file]
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                          text=True)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-4000:])
        raise BuildError(f"compiling {name} failed")
    with zipfile.ZipFile(jar, "w", zipfile.ZIP_STORED) as z:
        for d, _, names in sorted(os.walk(out)):
            for n in sorted(names):
                z.write(os.path.join(d, n), os.path.relpath(os.path.join(d, n), out))
    with open(stamp, "w") as fh:
        fh.write(key)
    return jar


def key():
    """Digest of the last successful build (both stages)."""
    with open(os.path.join(BUILD, "bench.digest")) as fh:
        return fh.read()


def build():
    """Builds both stages if needed; returns the run classpath."""
    jars = os.path.join(spark_jars(), "*")
    engine_files = sources(ENGINE_SRC)
    bench_files = sources(BENCH_SRC)
    os.makedirs(BUILD, exist_ok=True)
    engine_key = digest(engine_files, jars)
    engine = compile_stage("engine", engine_files, jars, engine_key)
    bench = compile_stage("bench", bench_files, engine + os.pathsep + jars,
                          digest(bench_files, engine_key))
    return os.pathsep.join([bench, engine, jars])


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        sys.exit(f"build: {e}")
