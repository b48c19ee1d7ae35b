"""Compiles the program (`src/main/scala`) and the benchmark harness
(`perfbench/harness`) into one class directory with scalac.

Spark and the Scala compiler come from the Spark distribution's jar
directory (`$SPARK_HOME/jars`, else the directory `build.sbt` names as
`unmanagedBase`), the same jars `build.sbt` compiles against. The output
is cached under the build directory by a hash of every source file, so
only the first run in a checkout compiles.
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess

HERE = os.path.dirname(os.path.abspath(__file__))

# JDK 17 module opens Spark needs outside spark-submit (as in build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
JVM_OPENS = [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]


def spark_jars():
    """`$SPARK_HOME/jars`, else the `unmanagedBase` directory of the
    `build.sbt` in the working directory (the repository root)."""
    if os.environ.get("SPARK_HOME"):
        d = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        try:
            with open("build.sbt") as f:
                m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        except OSError:
            m = None
        d = m.group(1) if m else "jars"
    if not glob.glob(os.path.join(d, "spark-sql_*.jar")):
        raise SystemExit(f"perfbench: no Spark jars in {d}")
    return os.path.join(d, "*")


def sources(root):
    prog = sorted(glob.glob(os.path.join(root, "src", "main", "scala", "**", "*.scala"),
                            recursive=True))
    if not prog:
        raise SystemExit(f"perfbench: no program sources under {root}/src/main/scala")
    return prog + sorted(glob.glob(os.path.join(HERE, "harness", "*.scala")))


def build(root, build_dir):
    """Return the class directory for the current sources, compiling if needed."""
    srcs = sources(root)
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, root).encode())
        with open(s, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    out = os.path.join(build_dir, "classes-" + h.hexdigest()[:16])
    if os.path.isdir(out):
        return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    jars = spark_jars()
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", jars, "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-classpath", jars] + srcs
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        raise SystemExit("perfbench: compile failed\n" + r.stdout[-4000:])
    os.rename(tmp, out)
    return out


def classpath(classes):
    return classes + os.pathsep + spark_jars()
