"""Builds the program and the benchmark from source into .bench_build/.

The program's main sources (src/main/scala) and the benchmark's own
(perfbench/src) are compiled in one scalac run against the Spark
distribution's jars, which also carry the Scala 2.13 compiler and library.
A digest of every source file is kept beside the classes, so an unchanged
tree is not compiled twice.

    python3 perfbench/build.py
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BUILD = ROOT / ".bench_build"
CLASSES = BUILD / "classes"
STAMP = BUILD / "classes.sha256"


def spark_jars():
    """The Spark distribution's jars: $SPARK_HOME/jars, else the first
    `spark-submit` on PATH that has a `jars` directory beside its `bin`."""
    homes = [Path(os.environ["SPARK_HOME"])] if os.environ.get("SPARK_HOME") else []
    for d in os.environ.get("PATH", "").split(os.pathsep):
        submit = Path(d) / "spark-submit"
        if submit.is_file():
            homes.append(submit.resolve().parent.parent)
    for home in homes:
        if (home / "jars").is_dir():
            return home / "jars"
    raise FileNotFoundError("no Spark distribution found: set SPARK_HOME")


def classpath():
    return f"{CLASSES}{os.pathsep}{spark_jars()}/*"


def sources():
    main = ROOT / "src" / "main"
    own = Path(__file__).resolve().parent / "src"
    return (sorted((main / "scala").rglob("*.scala")) + sorted(own.rglob("*.scala")),
            sorted(p for p in (main / "resources").rglob("*") if p.is_file()))


def digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def source_digest():
    """Digest of the program's main sources alone (the revision stamp when
    the tree is not a git checkout)."""
    scala, res = sources()
    return digest([f for f in scala + res if "perfbench" not in f.parts])[:16]


def build(log=sys.stderr):
    scala, resources = sources()
    if not any("graft" in f.parts for f in scala):
        raise FileNotFoundError("no program sources under src/main/scala")
    want = digest(scala + resources)
    if STAMP.exists() and STAMP.read_text() == want and CLASSES.is_dir():
        return False
    shutil.rmtree(CLASSES, ignore_errors=True)
    CLASSES.mkdir(parents=True)
    print(f"compiling {len(scala)} sources into {CLASSES.relative_to(ROOT)}", file=log)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", f"{spark_jars()}/*", "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-d", str(CLASSES)] + [str(f) for f in scala]
    subprocess.run(cmd, check=True, stdout=log, stderr=log)
    res_root = ROOT / "src" / "main" / "resources"
    for f in resources:
        dest = CLASSES / f.relative_to(res_root)
        dest.parent.mkdir(parents=True, exist_ok=True)
        shutil.copyfile(f, dest)
    STAMP.write_text(want)
    return True


if __name__ == "__main__":
    build(log=sys.stdout)
