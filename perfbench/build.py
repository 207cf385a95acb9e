#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program (src/main/scala and
src/main/resources) together with the benchmark harness (perfbench/src)
into one class directory, with the Scala compiler that ships in the
Spark distribution. Outputs live under .bench_build/ and are keyed by a
hash of every input, so an unchanged tree reuses its build.

Usage: python3 perfbench/build.py      (prints the build directory; the
program and harness classes are in its app.jar)
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


class BuildError(Exception):
    pass


def build_dir():
    return os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))


def spark_home():
    """$SPARK_HOME, else the installation whose spark-submit is on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(
            os.path.realpath(shutil.which("spark-submit"))))
    if not home:
        raise BuildError("Spark not found: set SPARK_HOME")
    return home


def spark_classpath():
    jars = sorted(glob.glob(os.path.join(spark_home(), "jars", "*.jar")))
    if not jars:
        raise BuildError(f"no Spark jars under {spark_home()}/jars")
    return jars


def sources():
    main = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(main):
        raise BuildError(f"program sources not found: {main}")
    files = sorted(glob.glob(os.path.join(main, "**", "*.scala"), recursive=True))
    files += sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"),
                              recursive=True))
    res = os.path.join(ROOT, "src", "main", "resources")
    resources = sorted(p for p in glob.glob(os.path.join(res, "**", "*"),
                                            recursive=True) if os.path.isfile(p))
    return files, res, resources


def source_hash():
    files, _, resources = sources()
    h = hashlib.sha256()
    for p in files + resources + [os.path.abspath(__file__)]:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    h.update("\n".join(os.path.basename(j) for j in spark_classpath()).encode())
    return h.hexdigest()[:16]


def jvm_base(tmp):
    os.makedirs(tmp, exist_ok=True)
    return ["java", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}"]


def build(log=sys.stderr):
    """Compiles if needed; returns (build directory holding app.jar,
    source hash)."""
    files, res, resources = sources()
    key = source_hash()
    out = os.path.join(build_dir(), f"classes-{key}")
    if os.path.exists(os.path.join(out, ".complete")):
        return out, key
    stage = out + ".staging"
    shutil.rmtree(stage, ignore_errors=True)
    os.makedirs(stage)
    jars = spark_classpath()
    compiler = [j for j in jars if os.path.basename(j).startswith(
        ("scala-compiler-", "scala-library-", "scala-reflect-"))]
    argfile = os.path.join(build_dir(), "scalac.args")
    with open(argfile, "w") as f:
        f.write("\n".join(files))
    cmd = jvm_base(os.path.join(build_dir(), "tmp")) + [
        "-Xmx2g", "-Xss8m", "-cp", ":".join(compiler),
        "scala.tools.nsc.Main", "-nowarn", "-d", stage,
        "-classpath", ":".join(jars), "@" + argfile]
    print(f"[perfbench] compiling {len(files)} sources", file=log, flush=True)
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True)
    if r.returncode != 0:
        raise BuildError("scalac failed:\n" + r.stdout[-6000:])
    for p in resources:
        dst = os.path.join(stage, os.path.relpath(p, res))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(p, dst)
    # one jar, not a class directory, so the JVM's class-data sharing
    # archive (see run.py) can cover the program's classes too
    with zipfile.ZipFile(os.path.join(stage, "app.jar"), "w",
                         zipfile.ZIP_DEFLATED) as z:
        for p in sorted(glob.glob(os.path.join(stage, "**", "*"),
                                  recursive=True)):
            if os.path.isfile(p) and not p.endswith("app.jar"):
                z.write(p, os.path.relpath(p, stage))
    open(os.path.join(stage, ".complete"), "w").close()
    for old in glob.glob(os.path.join(build_dir(), "classes-*")):
        if old != stage:
            shutil.rmtree(old, ignore_errors=True)
    os.rename(stage, out)
    return out, key


if __name__ == "__main__":
    try:
        print(build()[0])
    except BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        sys.exit(2)
