"""Build file of the benchmark: compiles the engine (`src/main/scala`) and
the benchmark main (`pipebench/scala`) with the Scala compiler that ships
in the Spark distribution, into `.bench_build/classes`.

Usage: python3 pipebench/build.py   (from the repository root)

A stamp over the source paths and contents skips the compile when nothing
changed since the last build.
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

OUT = ".bench_build/classes"


def sources():
    files = sorted(glob.glob("src/main/scala/**/*.scala", recursive=True))
    if not files:
        raise SystemExit("pipebench: no engine sources under src/main/scala (run from the repository root)")
    return files + sorted(glob.glob("pipebench/scala/*.scala"))


def classpath():
    """The Spark jars the repository's sbt build compiles against (its
    `unmanagedBase`), so both builds use one Spark."""
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open("build.sbt").read())
    if not m:
        raise SystemExit("pipebench: build.sbt names no unmanagedBase (the Spark jars)")
    return f"{m.group(1)}/*"


def build():
    files = sources()
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = os.path.join(OUT, ".stamp")
    if os.path.exists(stamp) and open(stamp).read() == h.hexdigest():
        return
    shutil.rmtree(OUT, ignore_errors=True)
    os.makedirs(OUT)
    os.makedirs(".bench_build/tmp", exist_ok=True)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-Djava.io.tmpdir=.bench_build/tmp", "-cp", classpath(),
           "scala.tools.nsc.Main", "-nowarn", "-d", OUT, "-classpath", classpath()] + files
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-6000:])
        raise SystemExit("pipebench: compile failed")
    with open(stamp, "w") as fh:
        fh.write(h.hexdigest())


if __name__ == "__main__":
    build()
