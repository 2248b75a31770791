"""Build file of the benchmark package.

Compiles the program's sources (`src/main/scala`) and then the
benchmark harness (`perfbench/src`) with the Scala compiler that ships
among the Spark jars, into `.bench_build/graftbench/`. Each stage is
skipped when a digest of its inputs matches the last build.

The Spark jars directory is `$SPARK_HOME/jars` or, when SPARK_HOME is
unset, the `unmanagedBase` the repository's `build.sbt` names.

Usage: python3 perfbench/build.py   (prints the runtime classpath)
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
OUT = ROOT / ".bench_build" / "graftbench"


def spark_jars() -> Path:
    home = os.environ.get("SPARK_HOME")
    if home:
        return Path(home) / "jars"
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)',
                  (ROOT / "build.sbt").read_text())
    if not m:
        raise SystemExit("perfbench: set SPARK_HOME (no unmanagedBase "
                         "in build.sbt)")
    return Path(m.group(1))


def java() -> str:
    home = os.environ.get("JAVA_HOME")
    return str(Path(home) / "bin" / "java") if home else "java"


def _digest(files, extra) -> str:
    h = hashlib.sha256(extra.encode())
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def _compile(name, sources, classpath, jars):
    dest = OUT / name
    stamp = OUT / f"{name}.stamp"
    digest = _digest(sources, ":".join(classpath))
    if dest.is_dir() and stamp.exists() and stamp.read_text() == digest:
        return dest
    shutil.rmtree(dest, ignore_errors=True)
    dest.mkdir(parents=True)
    args = OUT / f"{name}.args"
    args.write_text("\n".join(str(s) for s in sources) + "\n")
    compiler = [str(jars / j) for j in sorted(os.listdir(jars))
                if re.match(r"scala-(compiler|library|reflect)-.*\.jar$", j)]
    proc = subprocess.run(
        [java(), "-Xss8m", "-Xmx2g", "-cp", ":".join(compiler),
         "scala.tools.nsc.Main", "-nowarn", "-classpath",
         ":".join(classpath), "-d", str(dest), f"@{args}"],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-6000:])
        raise SystemExit(f"perfbench: compiling {name} failed")
    stamp.write_text(digest)
    return dest


def build() -> list:
    """Compile what changed; return the runtime classpath."""
    src = ROOT / "src" / "main" / "scala"
    if not src.is_dir():
        raise SystemExit(f"perfbench: no program sources at {src}")
    jars = spark_jars()
    spark_cp = sorted(glob.glob(str(jars / "*.jar")))
    if not spark_cp:
        raise SystemExit(f"perfbench: no jars in {jars}")
    OUT.mkdir(parents=True, exist_ok=True)
    program = _compile("program", sorted(src.rglob("*.scala")), spark_cp,
                       jars)
    harness = _compile("harness",
                       sorted((ROOT / "perfbench" / "src").glob("*.scala")),
                       [str(program)] + spark_cp, jars)
    return [str(harness), str(program)] + spark_cp


if __name__ == "__main__":
    print(":".join(build()))
