"""Build file of the benchmark.

Compiles the library (src/main/scala) and then the benchmark
(perfbench/src) with the Scala compiler that ships in the Spark
distribution's jars, into jars under .bench_build/<source hash>/.  It
then runs the benchmark's self-test once with
-XX:ArchiveClassesAtExit, so later runs load the classes of Spark and
the library from a class-data-sharing archive: that halves JVM and
session start-up, which every run pays before it measures anything.
A build whose sources are unchanged is reused.

    python3 perfbench/build.py        # builds, prints the class path
"""
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile
from pathlib import Path

COMPILE_TIMEOUT_S = 600
TRAIN_TIMEOUT_S = 240

# Spark on JDK 17 needs these when it is not started by spark-submit
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
# a fixed-size heap and young generation keep the heap peak comparable run to run
HEAP = ["-Xms3g", "-Xmx3g", "-Xmn256m", "-XX:+UseParallelGC", "-XX:-UseAdaptiveSizePolicy"]
HERE = Path(__file__).resolve().parent


class BuildError(Exception):
    pass


def spark_jars() -> Path:
    """The jars of the Spark distribution at $SPARK_HOME (they include the
    Scala compiler the build uses)."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        raise BuildError("SPARK_HOME is not set: point it at a Spark 4.1 distribution")
    return Path(home) / "jars"


def java() -> str:
    home = os.environ.get("JAVA_HOME")
    return str(Path(home) / "bin" / "java") if home else "java"


def jvm_command(classpath, tmpdir: Path, main: str, args, share: str):
    """The java command line of a benchmark JVM; `share` is the
    class-data-sharing option (archive to use, or to write at exit)."""
    opens = [f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS]
    return [java(), *HEAP, *opens, share, "-Xshare:auto", "-Xlog:cds=off", "-Xlog:cds+dynamic=off",
            f"-Djava.io.tmpdir={tmpdir}",
            f"-Dlog4j2.configurationFile={HERE / 'log4j2.properties'}",
            "-cp", os.pathsep.join(str(c) for c in classpath), main, *args]


def _inputs(root: Path):
    lib_dir = root / "src" / "main" / "scala"
    if not lib_dir.is_dir():
        raise BuildError(f"no library sources: {lib_dir} is missing")
    lib = sorted(lib_dir.rglob("*.scala"))
    bench = sorted((HERE / "src").rglob("*.scala"))
    resources = sorted(p for p in (root / "src" / "main" / "resources").rglob("*") if p.is_file())
    if not lib or not bench:
        raise BuildError("no Scala sources to compile")
    return lib, bench, resources


def _stamp(root: Path, files) -> str:
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(root)).encode())
        h.update(f.read_bytes())
    h.update("\n".join(sorted(p.name for p in spark_jars().glob("*.jar"))).encode())
    return h.hexdigest()[:16]


def _scalac(classpath, out_jar: Path, files, log: Path):
    args = out_jar.with_suffix(".args")
    args.write_text("\n".join(str(f) for f in files) + "\n")
    cmd = [java(), "-Xss8m", "-Xmx2g", "-cp", str(spark_jars() / "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", str(out_jar)]
    if classpath:
        cmd += ["-classpath", os.pathsep.join(str(c) for c in classpath)]
    with open(log, "ab") as lf:
        r = subprocess.run(cmd + [f"@{args}"], stdout=lf, stderr=subprocess.STDOUT,
                           timeout=COMPILE_TIMEOUT_S)
    if r.returncode != 0:
        sys.stderr.write(log.read_text(errors="replace")[-6000:])
        raise BuildError(f"scalac failed for {out_jar.name} (log {log})")


def _zip(base: Path, files, out: Path):
    with zipfile.ZipFile(out, "w") as z:
        for f in files:
            z.write(f, f.relative_to(base).as_posix())


def ensure(root: Path):
    """Build if needed.  Returns (class path entries, CDS archive or
    None, whether this call compiled)."""
    lib, bench, resources = _inputs(root)
    build_dir = root / ".bench_build"
    dest = build_dir / _stamp(root, lib + bench + resources)
    cp = [dest / "lib.jar", dest / "bench.jar", dest / "resources.jar", spark_jars() / "*"]
    archive = dest / "classes.jsa"
    if (dest / "ok").exists():
        return cp, (archive if archive.exists() else None), False
    tmp = build_dir / f"tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    try:
        log = tmp / "scalac.log"
        _scalac([], tmp / "lib.jar", lib, log)
        _scalac([tmp / "lib.jar"], tmp / "bench.jar", bench, log)
        _zip(root / "src" / "main" / "resources", resources, tmp / "resources.jar")
        for old in build_dir.iterdir():
            if old != tmp:
                shutil.rmtree(old, ignore_errors=True)
        tmp.rename(dest)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    _train(dest, cp, archive)
    (dest / "ok").write_text("")
    return cp, (archive if archive.exists() else None), True


def _train(dest: Path, cp, archive: Path):
    """Write the class-data-sharing archive from one self-test run.  Its
    verdict does not matter here; without an archive runs start slower."""
    work = dest / "train"
    (work / "tmp").mkdir(parents=True)
    try:
        subprocess.run(jvm_command(cp, work / "tmp", "mobbench.SelfTest", [str(work)],
                                   f"-XX:ArchiveClassesAtExit={archive}"),
                       stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
                       timeout=TRAIN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        archive.unlink(missing_ok=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    try:
        entries, _, _ = ensure(HERE.parent)
    except BuildError as e:
        sys.exit(f"build failed: {e}")
    print(os.pathsep.join(str(c) for c in entries))
