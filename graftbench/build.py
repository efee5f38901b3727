"""Build of the benchmark package: the engine's sources and the benchmark's
own Scala sources compiled together into one jar, plus the JVM class-data
archive every benchmark JVM starts from.

The compiler is the Scala compiler that ships among Spark's jars, run
with plain `java`, so the build needs no sbt, no network and writes
nothing outside the checkout. Spark's jars are found through
`$SPARK_HOME/jars`, else through the `unmanagedBase` the repository's
build.sbt declares. After compiling, one training JVM sets the
benchmark's workloads up (`graftbench.Main --mode train`) and dumps the classes it
loaded into a dynamic CDS archive: JVM start-up then maps pre-parsed
classes instead of loading ~15k classes from jars, which halves and
steadies `setup_s`. The output directory is keyed by a hash of every
input, so a checkout builds once and any source edit rebuilds.

    python3 graftbench/build.py        # prints the build directory
"""
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import zipfile
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
OUT = BENCH / ".build"
SCALAC_FLAGS = ["-nowarn", "-encoding", "UTF-8", "-Ybackend-parallelism", "2"]
HEAP = "2g"


class BuildError(RuntimeError):
    pass


def spark_jars() -> Path:
    cands = []
    if os.environ.get("SPARK_HOME"):
        cands.append(Path(os.environ["SPARK_HOME"]) / "jars")
    sbt = ROOT / "build.sbt"
    if sbt.is_file():
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text())
        if m:
            cands.append(Path(m.group(1)))
    for c in cands:
        if any(c.glob("scala-compiler-*.jar")):
            return c
    raise BuildError("no Spark jars with a Scala compiler found "
                     "(set SPARK_HOME or keep build.sbt's unmanagedBase)")


def sources():
    engine = ROOT / "src" / "main" / "scala"
    if not engine.is_dir():
        raise BuildError(f"engine sources missing: {engine}")
    scala = sorted(engine.rglob("*.scala")) + sorted((BENCH / "scala").rglob("*.scala"))
    resources = ROOT / "src" / "main" / "resources"
    res = sorted(p for p in resources.rglob("*") if p.is_file()) if resources.is_dir() else []
    return scala, resources, res


def java_cmd(jar: Path, jars: Path, archive_flag: str, work: Path) -> list:
    """The benchmark JVM's command line up to the main class's arguments:
    fixed heap, private tmpdir, quiet logging, Spark 4's module opens."""
    opens = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]
    return (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseParallelGC", "-Xss4m",
             archive_flag, f"-Djava.io.tmpdir={work / 'tmp'}",
             f"-Dlog4j2.configurationFile={BENCH / 'log4j2.properties'}"]
            + [x for p in opens for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
            + ["-cp", f"{jar}{os.pathsep}{jars / '*'}", "graftbench.Main"])


def java_env(work: Path) -> dict:
    """Child environment: Spark's SPARK_LOCAL_DIRS would override the
    run's private local dir, and TMPDIR points into the work dir."""
    env = {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}
    env["TMPDIR"] = str(work / "tmp")
    return env


def remove_work(work: Path) -> None:
    """Deletes a work directory, and graftbench/.work once it is empty."""
    shutil.rmtree(work, ignore_errors=True)
    try:
        work.parent.rmdir()
    except OSError:
        pass


def make_work(work: Path) -> Path:
    for d in ("tmp", "local", "warehouse", "checkpoints"):
        (work / d).mkdir(parents=True, exist_ok=True)
    return work


def build() -> tuple:
    """Returns (benchmark jar, Spark jar directory, CDS archive), building
    whatever is missing."""
    jars = spark_jars()
    scala, resources, res = sources()
    h = hashlib.sha256(" ".join(SCALAC_FLAGS).encode())
    for p in scala + res:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    for j in sorted(jars.glob("*.jar")):
        h.update(j.name.encode())
    key = h.hexdigest()[:16]
    out = OUT / key
    jar, archive = out / "graftbench.jar", out / "classes.jsa"
    if (out / ".done").is_file():
        return jar, jars, archive

    shutil.rmtree(OUT, ignore_errors=True)
    tmp = OUT / (key + ".tmp")
    tmp.mkdir(parents=True)
    argfile = OUT / "sources.txt"
    argfile.write_text("\n".join(str(p) for p in scala) + "\n")
    cp = str(jars / "*")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
           "-classpath", cp, "-d", str(tmp)] + SCALAC_FLAGS + ["@" + str(argfile)]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        raise BuildError("scalac failed:\n" + r.stdout[-4000:])
    for p in res:
        dst = tmp / p.relative_to(resources)
        dst.parent.mkdir(parents=True, exist_ok=True)
        shutil.copy2(p, dst)
    # CDS maps classes only from jars, never from class directories
    out.mkdir()
    with zipfile.ZipFile(jar, "w", zipfile.ZIP_STORED) as z:
        for p in sorted(tmp.rglob("*")):
            if p.is_file():
                z.write(p, p.relative_to(tmp).as_posix())
    shutil.rmtree(tmp)
    argfile.unlink()

    spec = ROOT / "BENCHMARK.json"
    names = ([w["name"] for w in json.loads(spec.read_text())["workloads"]]
             if spec.is_file() else ["kinesis_tail", "lake_upsert", "query_mix"])
    work = make_work(OUT / "train")
    cmd = java_cmd(jar, jars, f"-XX:ArchiveClassesAtExit={archive}", work) + [
        "--mode", "train", "--workloads", ",".join(names), "--work", str(work),
        "--digests", str(BENCH / "query_mix.digests")]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
                       env=java_env(work), cwd=str(work))
    shutil.rmtree(work, ignore_errors=True)
    if r.returncode != 0 or not archive.is_file():
        raise BuildError("class-data training run failed:\n" + r.stdout[-4000:])
    (out / ".done").write_text(key + "\n")
    return jar, jars, archive


if __name__ == "__main__":
    try:
        print(build()[0])
    except BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(2)
