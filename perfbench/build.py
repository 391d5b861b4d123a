#!/usr/bin/env python3
"""Build file of the benchmark package.

Compiles the engine's sources (src/main/scala) together with the
benchmark's own (perfbench/src) with the Scala compiler that ships in the
Spark distribution the engine builds against, into <build>/classes. A
stamp over every source file skips the compile when nothing changed.

Usage: python3 perfbench/build.py [build_dir]
"""
import hashlib
import os
import re
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def spark_jars():
    """The Spark distribution's jar directory: SPARK_JARS, else the
    `unmanagedBase` the engine's own build.sbt compiles against."""
    if "SPARK_JARS" in os.environ:
        return Path(os.environ["SPARK_JARS"])
    build_sbt = ROOT / "build.sbt"
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)',
                  build_sbt.read_text() if build_sbt.exists() else "")
    if not m:
        raise SystemExit("cannot find the Spark jars: set SPARK_JARS")
    return Path(m.group(1))


def sources():
    main = ROOT / "src" / "main" / "scala"
    if not main.is_dir():
        raise SystemExit(f"no engine sources under {main}")
    files = sorted(main.rglob("*.scala")) + sorted((ROOT / "perfbench" / "src").rglob("*.scala"))
    return files


def stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def build(build_dir):
    build_dir = Path(build_dir)
    classes = build_dir / "classes"
    files = sources()
    want = stamp(files)
    stamp_file = build_dir / "classes.stamp"
    if classes.is_dir() and stamp_file.exists() and stamp_file.read_text() == want:
        return classes
    if classes.exists():
        for p in sorted(classes.rglob("*"), reverse=True):
            p.unlink() if p.is_file() else p.rmdir()
    classes.mkdir(parents=True, exist_ok=True)
    args_file = build_dir / "scalac.args"
    args_file.write_text("\n".join(str(f) for f in files) + "\n")
    cp = f"{spark_jars()}/*"
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", f"-Djava.io.tmpdir={build_dir}",
           "-cp", cp, "scala.tools.nsc.Main", "-nowarn", "-d", str(classes),
           "-classpath", cp, f"@{args_file}"]
    res = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if res.returncode != 0:
        sys.stderr.write(res.stdout[-8000:])
        raise SystemExit(f"scalac failed with code {res.returncode}")
    stamp_file.write_text(want)
    return classes


if __name__ == "__main__":
    out = build(sys.argv[1] if len(sys.argv) > 1 else ROOT / ".bench_build" / "perfbench")
    print(out)
