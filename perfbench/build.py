"""Build file of the benchmark package.

Compiles the engine's sources (`src/main/scala`) together with the
benchmark's own (`perfbench/src`) with the Scala compiler the repo's
build.sbt names, against the Spark jars, into `.bench_build/perfbench/classes`.
A stamp of the source hash skips the compile when nothing changed.

Usage: python3 perfbench/build.py   (run.py calls it before every run)
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
SOURCE_DIRS = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(ROOT, "perfbench", "src")]
# Classes the benchmark cannot run without; their absence after a build is
# reported instead of failing later inside the JVM.
REQUIRED_CLASSES = ["graft/streaming/StreamingEtl.class", "graft/ops/Transforms.class",
                    "graft/SparkEntry.class", "perfbench/Main.class"]


class BuildError(Exception):
    pass


def _build_sbt():
    path = os.path.join(ROOT, "build.sbt")
    if not os.path.isfile(path):
        raise BuildError(f"build.sbt not found at the checkout root ({ROOT})")
    with open(path) as f:
        return f.read()


def scala_version():
    m = re.search(r'scalaVersion\s*:=\s*"([0-9.]+)"', _build_sbt())
    if not m:
        raise BuildError("build.sbt declares no scalaVersion")
    return m.group(1)


def spark_jars():
    """$SPARK_HOME/jars, else next to spark-submit on PATH, else the
    unmanagedBase directory build.sbt names."""
    cands = []
    if os.environ.get("SPARK_HOME"):
        cands.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    submit = shutil.which("spark-submit")
    if submit:
        cands.append(os.path.join(os.path.dirname(os.path.dirname(os.path.realpath(submit))), "jars"))
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', _build_sbt())
    if m:
        cands.append(m.group(1))
    for c in cands:
        jars = sorted(glob.glob(os.path.join(c, "*.jar")))
        if any("spark-sql_" in os.path.basename(j) for j in jars):
            return jars
    raise BuildError(f"no Spark jars found (looked in {cands or 'SPARK_HOME, PATH, build.sbt'})")


def compiler_jars(version, jars):
    """scala-compiler from the local coursier cache; library and reflect
    from the Spark jars, which ship the same Scala version."""
    cache = os.environ.get("COURSIER_CACHE") or os.path.expanduser("~/.cache/coursier")
    found = glob.glob(os.path.join(cache, "**", "org", "scala-lang", "scala-compiler", version,
                                   f"scala-compiler-{version}.jar"), recursive=True)
    if not found:
        raise BuildError(f"scala-compiler {version} not found in the coursier cache {cache}")
    rest = [j for j in jars if re.search(rf"scala-(library|reflect)-{re.escape(version)}\.jar$", j)]
    if len(rest) != 2:
        raise BuildError(f"Spark jars do not carry scala-library/reflect {version}")
    return [found[0]] + rest


def sources():
    out = []
    for d in SOURCE_DIRS:
        if not os.path.isdir(d):
            raise BuildError(f"source directory {d} is missing")
        for base, _, files in os.walk(d):
            out += [os.path.join(base, f) for f in files if f.endswith(".scala")]
    if not out:
        raise BuildError("no Scala sources found")
    return sorted(out)


def build():
    """Returns (classes_dir, source_hash, spark_jars)."""
    os.makedirs(BUILD, exist_ok=True)
    version = scala_version()
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256(version.encode())
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    classes = os.path.join(BUILD, "classes")
    stamp_file = os.path.join(classes, ".stamp")
    if not (os.path.isfile(stamp_file) and open(stamp_file).read() == stamp):
        tmp = classes + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        argfile = os.path.join(BUILD, "sources.txt")
        with open(argfile, "w") as f:
            f.write("\n".join(srcs))
        cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", ":".join(compiler_jars(version, jars)),
               "scala.tools.nsc.Main", "-usejavacp:false", "-nowarn",
               "-classpath", ":".join(jars), "-d", tmp, "@" + argfile]
        r = subprocess.run(cmd, capture_output=True, text=True, timeout=850)
        if r.returncode != 0:
            raise BuildError("scalac failed:\n" + (r.stdout + r.stderr)[-4000:])
        with open(os.path.join(tmp, ".stamp"), "w") as f:
            f.write(stamp)
        shutil.rmtree(classes, ignore_errors=True)
        os.rename(tmp, classes)
    missing = [c for c in REQUIRED_CLASSES if not os.path.isfile(os.path.join(classes, c))]
    if missing:
        raise BuildError(f"compiled classes missing from {classes}: {missing}")
    return classes, stamp, jars


if __name__ == "__main__":
    try:
        print(build()[0])
    except BuildError as e:
        sys.exit(f"perfbench build: {e}")
