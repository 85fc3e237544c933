"""Build file of the benchmark package: compiles the engine's sources
(src/main/scala) together with the benchmark's own (perfbench/src) into
.bench_build/classes with the Scala compiler that ships in Spark's jars.
Skips the compile when no source changed since the last one.

    python3 perfbench/build.py
"""
import hashlib
import os
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
OUT = ROOT / ".bench_build"
CLASSES = OUT / "classes"
SOURCES = [ROOT / "src" / "main" / "scala", ROOT / "perfbench" / "src"]


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else the jars directory
    beside the first spark-submit on PATH that has one."""
    homes = [os.environ["SPARK_HOME"]] if os.environ.get("SPARK_HOME") else [
        str(Path(d).parent) for d in os.environ.get("PATH", "").split(os.pathsep)
        if (Path(d) / "spark-submit").is_file()]
    for home in homes:
        jars = Path(home) / "jars"
        if any(jars.glob("spark-core_*.jar")):
            return jars
    raise SystemExit("build: no Spark jars found; set SPARK_HOME")


def classpath():
    return f"{CLASSES}{os.pathsep}{spark_jars() / '*'}"


def build():
    """Compile if needed; raises SystemExit with a message on failure."""
    missing = [str(d) for d in SOURCES if not d.is_dir()]
    if missing:
        raise SystemExit(f"build: source directory missing: {', '.join(missing)}")
    files = sorted(p for d in SOURCES for p in d.rglob("*.scala"))
    digest = hashlib.sha256()
    for p in files:
        digest.update(str(p.relative_to(ROOT)).encode())
        digest.update(p.read_bytes())
    stamp = OUT / "classes.sha256"
    if stamp.exists() and stamp.read_text() == digest.hexdigest() and CLASSES.is_dir():
        return
    if not (spark_jars() / "scala-compiler-2.13.17.jar").exists():
        raise SystemExit(f"build: no Scala compiler in {spark_jars()}")
    subprocess.run(["rm", "-rf", str(CLASSES)], check=True)
    CLASSES.mkdir(parents=True)
    argfile = OUT / "sources.txt"
    argfile.write_text("\n".join(str(p) for p in files) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={OUT}",
           "-cp", str(spark_jars() / "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", str(CLASSES),
           "-classpath", str(spark_jars() / "*"), f"@{argfile}"]
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise SystemExit(f"build: scalac exited with {r.returncode}")
    stamp.write_text(digest.hexdigest())


if __name__ == "__main__":
    build()
