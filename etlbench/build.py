#!/usr/bin/env python3
"""Build file of the benchmark package: compiles the repository's
src/main/scala together with etlbench/src with scalac from the Spark
distribution's jars, into etlbench/.build/<source hash>/. Nothing is
compiled when a build for the same sources exists, so a run pays no
build-tool start-up.

    python3 etlbench/build.py      # build if needed, print the classpath
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent


def _spark_jars():
    """$SPARK_HOME/jars, else the Spark jar directory the repository's own
    build declares (`unmanagedBase` in build.sbt)."""
    if os.environ.get("SPARK_HOME"):
        return Path(os.environ["SPARK_HOME"]) / "jars"
    sbt = ROOT / "build.sbt"
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)',
                  sbt.read_text() if sbt.is_file() else "")
    if not m:
        raise SystemExit("etlbench: set SPARK_HOME to a Spark 4 distribution")
    return Path(m.group(1))


SPARK_JARS = _spark_jars()
# What spark-submit would inject for Spark 4 on JDK 17 (the root
# build.sbt passes the same list to forked runs).
ADD_OPENS = [a for p in [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
] for a in ("--add-opens", f"{p}=ALL-UNNAMED")]


def sources():
    main = ROOT / "src" / "main" / "scala"
    if not main.is_dir():
        raise SystemExit(f"etlbench: no sources at {main}; run from a checkout "
                         "of the repository")
    files = sorted(main.rglob("*.scala")) + sorted((HERE / "src").rglob("*.scala"))
    return [f for f in files if f.is_file()]


def ensure_built():
    """Returns the run classpath, compiling first if the sources changed."""
    if not SPARK_JARS.is_dir():
        raise SystemExit(f"etlbench: Spark jars not found at {SPARK_JARS}")
    srcs = sources()
    h = hashlib.sha256()
    for f in srcs:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    out = HERE / ".build" / h.hexdigest()[:16]
    classes = out / "classes"
    if not (out / "ok").exists():
        shutil.rmtree(HERE / ".build", ignore_errors=True)
        classes.mkdir(parents=True)
        jars = f"{SPARK_JARS}/*"
        p = subprocess.run(
            ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", jars, "scala.tools.nsc.Main",
             "-nowarn", "-d", str(classes), "-classpath", jars]
            + [str(f) for f in srcs],
            stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        if p.returncode != 0:
            shutil.rmtree(HERE / ".build", ignore_errors=True)
            sys.stderr.write(p.stdout[-6000:])
            raise SystemExit("etlbench: compilation failed")
        (out / "ok").write_text("")
    return f"{classes}:{SPARK_JARS}/*"


if __name__ == "__main__":
    print(ensure_built())
