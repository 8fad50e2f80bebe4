#!/usr/bin/env python3
"""Build file of the benchmark: compiles graft's main sources together with
the benchmark harness (perfbench/src) into one class directory.

    python3 perfbench/build.py [<build dir>]

It runs the Scala compiler that ships with the Spark distribution the
project builds against (build.sbt's `unmanagedBase`, or $SPARK_HOME/jars),
so no dependency resolution happens. A build is skipped when the sources
are unchanged since the last one (content hash in <build dir>/stamp).
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

SOURCE_DIRS = ["src/main/scala", "perfbench/src"]


def spark_jars() -> Path:
    if os.environ.get("SPARK_HOME"):
        return Path(os.environ["SPARK_HOME"]) / "jars"
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', Path("build.sbt").read_text())
    if not m:
        raise SystemExit("build: no Spark jars (set SPARK_HOME)")
    return Path(m.group(1))


def sources():
    files = []
    for d in SOURCE_DIRS:
        if not Path(d).is_dir():
            raise SystemExit(f"build: source directory {d} is missing")
        files += sorted(str(p) for p in Path(d).rglob("*.scala"))
    return files


def build(build_dir: Path) -> Path:
    """Compiles if needed; returns the class directory."""
    srcs = sources()
    jars = spark_jars()
    digest = hashlib.sha256(str(jars).encode())
    for f in srcs:
        digest.update(f.encode() + b"\0" + Path(f).read_bytes())
    stamp = build_dir / "stamp"
    classes = build_dir / "classes"
    if stamp.exists() and stamp.read_text() == digest.hexdigest() and classes.is_dir():
        return classes
    shutil.rmtree(classes, ignore_errors=True)
    classes.mkdir(parents=True)
    argfile = build_dir / "sources.txt"
    argfile.write_text("\n".join(srcs) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={build_dir}", "-cp", f"{jars}/*",
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn",
           "-d", str(classes), f"@{argfile}"]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit("build: compilation failed")
    stamp.write_text(digest.hexdigest())
    return classes


if __name__ == "__main__":
    out = Path(sys.argv[1] if len(sys.argv) > 1 else ".bench_build").resolve()
    out.mkdir(parents=True, exist_ok=True)
    print(build(out))
