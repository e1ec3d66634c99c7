"""Build file of the benchmark: compiles graft's main sources together with
the harness under perfbench/src into one class directory.

Uses the Scala compiler that ships in Spark's jar directory, so the build
needs neither sbt nor a dependency download. The output lives under
$CARGO_TARGET_DIR (default .bench_build) and is rebuilt only when a source
file changes.

    python3 perfbench/build.py          # prints the class directory
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else the `unmanagedBase`
    directory the sbt build (build.sbt) compiles graft against."""
    if os.environ.get("SPARK_HOME"):
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        sbt = os.path.join(REPO, "build.sbt")
        found = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)',
                          open(sbt).read()) if os.path.exists(sbt) else None
        if not found:
            sys.exit("build: set SPARK_HOME (no unmanagedBase in build.sbt)")
        jars = found.group(1)
    if not os.path.isdir(jars):
        sys.exit(f"build: no Spark jar directory at {jars}")
    return jars


def target_dir():
    return os.path.abspath(os.path.join(
        REPO, os.environ.get("CARGO_TARGET_DIR", ".bench_build"), "perfbench"))


def sources():
    main = os.path.join(REPO, "src", "main", "scala")
    if not os.path.isdir(os.path.join(main, "graft")):
        sys.exit(f"build: graft sources not found under {main}")
    files = sorted(glob.glob(os.path.join(main, "**", "*.scala"), recursive=True))
    files += sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))
    return files


def build():
    """Returns the class directory, compiling first if any source changed."""
    jars = spark_jars()
    files = sources()
    digest = hashlib.sha256()
    for f in files:
        digest.update(f.encode())
        with open(f, "rb") as fh:
            digest.update(fh.read())
    stamp = digest.hexdigest()
    out = target_dir()
    classes = os.path.join(out, "classes")
    stamp_file = os.path.join(out, "stamp")
    if os.path.isdir(classes) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == stamp:
                return classes
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    compiler = ":".join(sorted(glob.glob(os.path.join(jars, f"scala-{m}-2.*.jar")))[-1]
                        for m in ("compiler", "library", "reflect"))
    cmd = ["java", "-Xss8m", "-Xmx1500m", "-cp", compiler, "scala.tools.nsc.Main",
           "-nowarn", "-classpath", os.path.join(jars, "*"), "-d", tmp] + files
    res = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if res.returncode != 0:
        sys.exit(f"build: scalac failed with code {res.returncode}")
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return classes


if __name__ == "__main__":
    print(build())
