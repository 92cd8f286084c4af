"""Build file of the benchmark: compiles the program (`src/main/scala`) and
the benchmark's JVM harness (`perfbench/harness`) against the Spark jars of
the sbt build (its `unmanagedBase`), with the Scala compiler those jars
include, into `.bench_build/classes/<hash>`.
The hash covers both source trees, so a changed source rebuilds and an
unchanged one is reused.

Usage: python3 perfbench/build.py   (prints the classpath)
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

HARNESS = Path(__file__).resolve().parent / "harness"


def spark_jars(root):
    """The jar directory build.sbt compiles the program against."""
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', (root / "build.sbt").read_text())
    if not m:
        raise SystemExit("build.sbt names no unmanagedBase jar directory")
    return Path(m.group(1))


def sources(root):
    return sorted((root / "src" / "main" / "scala").rglob("*.scala")), sorted(HARNESS.glob("*.scala"))


def source_hash(root):
    prog, harness = sources(root)
    h = hashlib.sha256()
    for f in prog + harness:
        h.update(str(f.relative_to(root) if f.is_relative_to(root) else f.name).encode())
        h.update(f.read_bytes())
    return h.hexdigest()[:16]


def scalac(jars, out, classpath, files, log):
    out.mkdir(parents=True)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", f"{jars}/*", "scala.tools.nsc.Main",
           "-nowarn", "-d", str(out), "-classpath", classpath] + [str(f) for f in files]
    with open(log, "ab") as lf:
        if subprocess.run(cmd, stdout=lf, stderr=subprocess.STDOUT).returncode != 0:
            raise SystemExit(f"compile failed, see {log}")


def ensure_built(root, log):
    """Return the classpath of the compiled program plus harness."""
    digest = source_hash(root)
    jars = spark_jars(root)
    base = root / ".bench_build" / "classes"
    done = base / digest
    if not (done / "ok").exists():
        prog, harness = sources(root)
        tmp = base / f"{digest}.tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        scalac(jars, tmp / "program", f"{jars}/*", prog, log)
        scalac(jars, tmp / "harness", f"{tmp / 'program'}{os.pathsep}{jars}/*", harness, log)
        (tmp / "ok").write_text("")
        shutil.rmtree(done, ignore_errors=True)
        tmp.rename(done)
        for old in base.iterdir():
            if old.name != digest:
                shutil.rmtree(old, ignore_errors=True)
    return os.pathsep.join([str(done / "program"), str(done / "harness"), f"{jars}/*"])


if __name__ == "__main__":
    root = Path.cwd()
    (root / ".bench_build").mkdir(exist_ok=True)
    print(ensure_built(root, root / ".bench_build" / "build.log"))
    sys.exit(0)
