#!/usr/bin/env python3
"""Build file of the geocoder benchmark.

Compiles the engine's sources (src/main/scala of the checkout) together
with the benchmark's own (perfbench/src/main/scala) using the Scala
compiler that ships in the Spark distribution's jars, so no dependency is
resolved. Output goes to $CARGO_TARGET_DIR (default .bench_build) under the
checkout; a stamp of the sources' hash skips an up-to-date rebuild.

    python3 perfbench/build.py          # compile
    python3 perfbench/build.py test     # compile and run the self-tests
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)

# Spark on JDK 17 needs these when a session is created outside
# spark-submit (the same list as the root build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
JVM_OPENS = [f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS]


class BuildError(Exception):
    pass


def out_dir():
    return os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))


def spark_jars():
    """The jars directory of the Spark distribution: $SPARK_HOME/jars, or
    the one next to spark-submit on PATH."""
    homes = [os.environ.get("SPARK_HOME", "")]
    submit = shutil.which("spark-submit")
    if submit:
        homes.append(os.path.dirname(os.path.dirname(os.path.realpath(submit))))
    for h in homes:
        jars = os.path.join(h, "jars")
        if h and glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
            return jars
    raise BuildError("no Spark distribution with a Scala compiler found "
                     "(set SPARK_HOME)")


def sources(*dirs):
    out = []
    for d in dirs:
        if not os.path.isdir(d):
            raise BuildError(f"missing source directory {os.path.relpath(d, ROOT)}")
        out += sorted(glob.glob(os.path.join(d, "**", "*.scala"), recursive=True))
    return out


def stamp_of(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def compile_to(dest, files, classpath=(), deps=()):
    """Compile `files` into `dest` unless it is up to date with them and
    with `deps`, the sources of the classes on `classpath`."""
    jars = spark_jars()
    stamp_file = dest + ".stamp"
    stamp = stamp_of(list(deps) + files)
    if os.path.isdir(dest) and os.path.exists(stamp_file) \
            and open(stamp_file).read() == stamp:
        return
    shutil.rmtree(dest, ignore_errors=True)
    os.makedirs(dest)
    args_file = dest + ".args"
    with open(args_file, "w") as fh:
        fh.write("\n".join(files) + "\n")
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", dest]
    if classpath:
        cmd += ["-cp", os.pathsep.join(classpath)]
    cmd.append("@" + args_file)
    print(f"[perfbench] compiling {len(files)} sources -> "
          f"{os.path.relpath(dest, ROOT)}", file=sys.stderr)
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        shutil.rmtree(dest, ignore_errors=True)
        raise BuildError(f"scalac failed with code {r.returncode}")
    with open(stamp_file, "w") as fh:
        fh.write(stamp)


def main_sources():
    return sources(os.path.join(ROOT, "src", "main", "scala"),
                   os.path.join(BENCH_DIR, "src", "main", "scala"))


def build():
    """Compile the engine and the benchmark; return the runtime classpath."""
    resources = os.path.join(ROOT, "src", "main", "resources")
    if not os.path.isdir(resources):
        raise BuildError("missing source directory src/main/resources")
    classes = os.path.join(out_dir(), "classes")
    compile_to(classes, main_sources())
    return [classes, resources, os.path.join(spark_jars(), "*")]


def build_tests():
    cp = build()
    tests = os.path.join(out_dir(), "test-classes")
    compile_to(tests, sources(os.path.join(BENCH_DIR, "src", "test", "scala")), cp,
               deps=main_sources())
    return [tests] + cp


def main():
    try:
        if sys.argv[1:] == ["test"]:
            cp = build_tests()
            tmp = os.path.join(out_dir(), "tmp")
            os.makedirs(tmp, exist_ok=True)
            r = subprocess.run(["java", "-Xmx1g", *JVM_OPENS,
                                f"-Djava.io.tmpdir={tmp}",
                                "-cp", os.pathsep.join(cp), "graftbench.SelfTest",
                                out_dir()])
            sys.exit(r.returncode)
        build()
    except BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        sys.exit(2)


if __name__ == "__main__":
    main()
