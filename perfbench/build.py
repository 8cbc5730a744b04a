"""Build file of the benchmark: compiles graft and the harness with scalac.

    python3 perfbench/build.py        # from the repo root

Compiles `src/main/scala` (the program, unchanged) and `perfbench/harness`
(the benchmark's own package) into two class trees under `.bench_build/`, against
the Spark jars the repo's `build.sbt` names as `unmanagedBase` (or
`$SPARK_JARS`, or `$SPARK_HOME/jars`).  A hash of the sources and of this
file skips the build when nothing changed.
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

BUILD_DIR = ".bench_build"
HARNESS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "harness")


class BuildError(Exception):
    pass


def spark_jars(root="."):
    if os.environ.get("SPARK_JARS"):
        return os.environ["SPARK_JARS"]
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    sbt = os.path.join(root, "build.sbt")
    if os.path.exists(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m:
            return m.group(1)
    raise BuildError("cannot locate the Spark jars: no build.sbt unmanagedBase, "
                     "SPARK_JARS or SPARK_HOME")


def _sources(d):
    return sorted(glob.glob(os.path.join(d, "**", "*.scala"), recursive=True))


def _digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def _scalac(jars, classpath, out, files):
    os.makedirs(out, exist_ok=True)
    cp = os.pathsep.join([os.path.join(jars, "*")] + classpath)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", cp, "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-d", out] + files
    r = subprocess.run(cmd, capture_output=True, text=True)
    if r.returncode != 0:
        raise BuildError("scalac failed:\n" + (r.stdout + r.stderr)[-4000:])


def classpath(root="."):
    """The runtime classpath: program classes, harness classes, Spark jars."""
    b = os.path.join(root, BUILD_DIR)
    return os.pathsep.join([os.path.join(b, "main"), os.path.join(b, "harness"),
                            os.path.join(spark_jars(root), "*")])


def build(root="."):
    """Compile if any source changed; returns True when it compiled."""
    main_src = _sources(os.path.join(root, "src", "main", "scala"))
    if not main_src:
        raise BuildError("no program sources under src/main/scala: run from the "
                         "root of a graft checkout")
    harness_src = _sources(HARNESS)
    jars = spark_jars(root)
    if not glob.glob(os.path.join(jars, "spark-sql_*.jar")):
        raise BuildError(f"no Spark jars in {jars}")
    b = os.path.join(root, BUILD_DIR)
    stamp = os.path.join(b, "stamp")
    digest = _digest(main_src + harness_src + [os.path.abspath(__file__)])
    if os.path.exists(stamp) and open(stamp).read() == digest:
        return False
    tmp = b + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    main_cls, harness_cls = os.path.join(tmp, "main"), os.path.join(tmp, "harness")
    _scalac(jars, [], main_cls, main_src)
    _scalac(jars, [main_cls], harness_cls, harness_src)
    with open(os.path.join(tmp, "stamp"), "w") as f:
        f.write(digest)
    shutil.rmtree(b, ignore_errors=True)
    os.rename(tmp, b)
    return True


if __name__ == "__main__":
    try:
        print("compiled" if build() else "up to date")
    except BuildError as e:
        sys.exit(f"build failed: {e}")
