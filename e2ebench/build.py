"""Build of the benchmark: compiles the program's sources (src/main/scala)
together with the benchmark's own (e2ebench/src) into e2ebench/.build.

It uses the Scala compiler that ships in Spark's jars (the Scala version
build.sbt pins) and compiles against those jars, the classpath the sbt
build takes from Spark. It needs no network, writes nothing outside
e2ebench/.build, and reads nothing sbt left behind. A build is reused
while the digest of every source file is unchanged.

    python3 e2ebench/build.py      # from the repository root
"""
import hashlib
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
OUT = BENCH / ".build"


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        exe = shutil.which("spark-submit")
        if exe:
            home = str(Path(exe).resolve().parent.parent)
    if not home or not (Path(home) / "jars").is_dir():
        raise SystemExit("offbench: set SPARK_HOME (or put spark-submit on PATH)")
    return Path(home) / "jars"


def sources(root):
    main = root / "src" / "main" / "scala"
    if not main.is_dir():
        raise SystemExit(f"offbench: no program sources under {main}")
    return sorted(main.rglob("*.scala")) + sorted((BENCH / "src").rglob("*.scala"))


def build(root):
    """Returns (class directory, compile seconds; 0 when reused)."""
    jars = spark_jars()
    srcs = sources(root)
    h = hashlib.sha256()
    for f in srcs:
        h.update(str(f.relative_to(root)).encode())
        h.update(f.read_bytes())
    h.update("\n".join(sorted(p.name for p in jars.glob("*.jar"))).encode())
    digest = h.hexdigest()
    classes = OUT / "classes"
    stamp = OUT / "stamp"
    if stamp.is_file() and stamp.read_text() == digest:
        return classes, 0.0
    shutil.rmtree(OUT, ignore_errors=True)
    classes.mkdir(parents=True)
    compiler = [str(next(jars.glob(f"scala-{part}-2.*.jar")))
                for part in ("compiler", "library", "reflect")]
    argfile = OUT / "sources.txt"
    argfile.write_text("\n".join(str(f) for f in srcs) + "\n")
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", os.pathsep.join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-classpath", str(jars / "*"),
           "-d", str(classes), f"@{argfile}"]
    t0 = time.monotonic()
    done = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if done.returncode != 0:
        raise SystemExit(f"offbench: compile failed ({done.returncode})")
    stamp.write_text(digest)
    return classes, time.monotonic() - t0


if __name__ == "__main__":
    classes, secs = build(Path.cwd())
    print(f"{classes} compiled in {secs:.1f} s" if secs else f"{classes} is up to date")
