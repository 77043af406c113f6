"""Build file of the benchmark package.

Compiles the program (`src/main/scala`, plus `src/main/resources`) and
the benchmark's own sources (`perfbench/src`) with the Scala compiler
that ships in Spark's jar directory, into `.bench_build/classes`. A
digest of every input is stamped beside the classes, so an unchanged
tree is not rebuilt.

Usage: python3 perfbench/build.py   (from the repository root)
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
OUT = ROOT / ".bench_build" / "classes"


class BuildError(Exception):
    pass


def spark_jars() -> Path:
    """`$SPARK_HOME/jars` if set, else the jar directory `build.sbt` names
    (`unmanagedBase`), so the benchmark builds against the same Spark and
    Scala as the repository."""
    if os.environ.get("SPARK_HOME"):
        jars = Path(os.environ["SPARK_HOME"]) / "jars"
    else:
        sbt = ROOT / "build.sbt"
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text()) if sbt.is_file() else None
        if m is None:
            raise BuildError("no Spark jar directory: build.sbt names none and SPARK_HOME is not set")
        jars = Path(m.group(1))
    if not jars.is_dir():
        raise BuildError(f"Spark jar directory {jars} not found")
    return jars


def sources():
    main = ROOT / "src" / "main" / "scala"
    if not main.is_dir():
        raise BuildError(f"program sources not found under {main.relative_to(ROOT)}")
    scala = sorted(main.rglob("*.scala")) + sorted((ROOT / "perfbench" / "src").rglob("*.scala"))
    resources = ROOT / "src" / "main" / "resources"
    res = sorted(p for p in resources.rglob("*") if p.is_file()) if resources.is_dir() else []
    return scala, resources, res


def build() -> Path:
    scala, res_root, res = sources()
    jars = spark_jars()
    h = hashlib.sha256(str(jars).encode())
    for p in scala + res:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    digest = h.hexdigest()
    stamp = OUT / ".stamp"
    if stamp.is_file() and stamp.read_text() == digest:
        return OUT
    shutil.rmtree(OUT, ignore_errors=True)
    OUT.mkdir(parents=True)
    argfile = OUT.parent / "scalac.args"
    argfile.write_text("\n".join(str(p) for p in scala) + "\n")
    cp = f"{jars}/*"
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", cp, "scala.tools.nsc.Main",
           "-deprecation", "-nowarn", "-classpath", cp, "-d", str(OUT), f"@{argfile}"]
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        raise BuildError("scalac failed:\n" + proc.stdout[-4000:])
    for p in res:
        dst = OUT / p.relative_to(res_root)
        dst.parent.mkdir(parents=True, exist_ok=True)
        shutil.copyfile(p, dst)
    stamp.write_text(digest)
    return OUT


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(2)
