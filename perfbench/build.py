#!/usr/bin/env python3
"""Build the engine (src/main/scala) and the harness (perfbench/harness)
from source with scalac, into .bench_build/ at the repository root.

Usage, from the repository root:  python3 perfbench/build.py

A build is skipped when the sources' digest matches the last one built.
The Spark distribution's jars are the classpath: $SPARK_HOME/jars, or
else the `unmanagedBase` directory that build.sbt names.
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
OUT = ROOT / ".bench_build"


def spark_jars(root=ROOT):
    home = os.environ.get("SPARK_HOME")
    if home and (Path(home) / "jars").is_dir():
        return Path(home) / "jars"
    sbt = root / "build.sbt"
    if sbt.is_file():
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text())
        if m and Path(m.group(1)).is_dir():
            return Path(m.group(1))
    raise SystemExit("perfbench: no Spark jars (set SPARK_HOME)")


def sources(d):
    return sorted(p for p in Path(d).rglob("*.scala") if p.is_file())


def digest(files, extra=""):
    h = hashlib.sha256(extra.encode())
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def compile_dir(name, srcs, classpath, stamp_extra=""):
    out = OUT / name
    stamp = OUT / f"{name}.stamp"
    want = digest(srcs, stamp_extra)
    if stamp.is_file() and stamp.read_text() == want and out.is_dir():
        return out, want
    shutil.rmtree(out, ignore_errors=True)
    out.mkdir(parents=True)
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", classpath, "scala.tools.nsc.Main",
           "-nowarn", "-classpath", classpath, "-d", str(out)] + [str(p) for p in srcs]
    print(f"perfbench: compiling {name} ({len(srcs)} files)", file=sys.stderr)
    r = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=900)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-8000:])
        raise SystemExit(f"perfbench: compiling {name} failed")
    stamp.write_text(want)
    return out, want


def build():
    """Returns the classpath (a string) the harness runs with."""
    src = ROOT / "src" / "main" / "scala"
    if not src.is_dir():
        raise SystemExit("perfbench: engine sources (src/main/scala) not found")
    jars = str(spark_jars() / "*")
    engine, engine_digest = compile_dir("engine", sources(src), jars)
    harness, _ = compile_dir("harness", sources(ROOT / "perfbench" / "harness"),
                             f"{engine}{os.pathsep}{jars}", engine_digest)
    return os.pathsep.join([str(harness), str(engine), jars])


if __name__ == "__main__":
    print(build())
