"""Build file of the benchmark.

Compiles the project's main sources (src/main/scala) together with the
benchmark's harness (perfbench/scala) with the Scala compiler that ships
in Spark's jar directory ($SPARK_HOME/jars), against the same jars the
project's own build uses. The output is keyed by a hash of every source
file, so an unchanged tree is compiled once:

    .perfbench/build/<hash>/classes

Run it alone with `python3 perfbench/build.py`.
"""
import hashlib
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path


def spark_jars():
    """The jars of the Spark install named by $SPARK_HOME."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        raise RuntimeError("set SPARK_HOME to the Spark install the project builds against")
    home = Path(home)
    jars = sorted((home / "jars").glob("*.jar"))
    if not jars:
        raise RuntimeError(f"no Spark jars under {home}/jars")
    return jars


def sources(root):
    main = sorted((root / "src" / "main" / "scala").rglob("*.scala"))
    bench = sorted((root / "perfbench" / "scala").glob("*.scala"))
    if not main or not bench:
        raise RuntimeError(f"no Scala sources under {root}/src/main/scala or {root}/perfbench/scala")
    return main + bench


def build(root, state):
    """Return (classes dir, seconds spent compiling; 0 when cached)."""
    root, state = Path(root), Path(state)
    srcs = sources(root)
    h = hashlib.sha256()
    for p in srcs:
        h.update(str(p.relative_to(root)).encode())
        h.update(p.read_bytes())
    for j in spark_jars():
        h.update(j.name.encode())
    key = h.hexdigest()[:16]
    out = state / "build" / key
    classes = out / "classes"
    if (out / "DONE").exists():
        return classes, 0.0
    shutil.rmtree(state / "build", ignore_errors=True)
    classes.mkdir(parents=True)
    cp = os.pathsep.join(str(j) for j in spark_jars())
    t0 = time.monotonic()
    proc = subprocess.run(
        ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", cp, "scala.tools.nsc.Main", "-nowarn",
         "-d", str(classes), "-classpath", cp] + [str(p) for p in srcs],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=850)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-4000:])
        raise RuntimeError("compilation failed")
    (out / "DONE").write_text(key + "\n")
    return classes, time.monotonic() - t0


if __name__ == "__main__":
    here = Path(__file__).resolve().parent.parent
    c, s = build(here, here / ".perfbench")
    print(f"{c} ({s:.1f} s)")
