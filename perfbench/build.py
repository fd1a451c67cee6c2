"""Build file of the benchmark: compiles graft and the benchmark's JVM side.

graft (``src/main/scala``) and ``perfbench/scala`` are compiled
with the Scala compiler that ships in Spark's ``jars`` directory, so no build
tool and no network are needed, and packed as jars under ``.bench_build/``
in the checkout root. A class-data-sharing archive of the classes one short
benchmark run loads (``perfbench.jsa``) is dumped next to them: every
benchmark run starts a fresh JVM, and the archive saves it most of the
class loading of Spark and graft. Everything is reused while the sources
are unchanged.

    python3 perfbench/build.py          # build, print the run classpath
"""

import hashlib
import os
import shutil
import subprocess
import sys
import zipfile
from pathlib import Path

BUILD_DIR = ".bench_build"

# every benchmark JVM, including the one that dumps the archive (a shared
# archive is only used by a JVM whose options are compatible with its own).
# -XX:-UsePerfData: no hsperfdata files outside the checkout.
JVM_FLAGS = ["-Xms3g", "-Xmx3g", "-Xss8m", "-XX:-UsePerfData", "-XX:CompileThresholdScaling=0.2",
             "-Dio.netty.tryReflectionSetAccessible=true"] + [
    f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
        "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
        "jdk.internal.ref", "sun.nio.ch", "sun.nio.cs", "sun.security.action",
        "sun.util.calendar")]


class BuildError(Exception):
    pass


def spark_home() -> Path:
    """``$SPARK_HOME``, else the installation whose ``spark-submit`` is on PATH."""
    if "SPARK_HOME" in os.environ:
        return Path(os.environ["SPARK_HOME"])
    submit = shutil.which("spark-submit")
    if not submit:
        raise BuildError("Spark not found: set SPARK_HOME or put spark-submit on PATH")
    return Path(submit).resolve().parent.parent


def spark_jars() -> list:
    jars = sorted((spark_home() / "jars").glob("*.jar"))
    if not jars:
        raise BuildError(f"no Spark jars under {spark_home() / 'jars'}")
    return [str(j) for j in jars]


def _digest(files: list, classpath: list, salt: str) -> str:
    h = hashlib.sha256(salt.encode())
    for f in files:
        h.update(str(f).encode())
        h.update(f.read_bytes())
    for c in classpath:
        h.update(c.encode())
    return h.hexdigest()


def _fresh(stamp: Path, digest: str) -> bool:
    return stamp.exists() and stamp.read_text() == digest


def _compile(name: str, src: Path, out: Path, classpath: list, salt: str = "") -> str:
    """Compile every .scala file under ``src`` into the jar ``out/<name>.jar``
    unless it was built from the same sources, classpath and ``salt`` (the
    digest of what it compiles against). Returns the build's digest."""
    files = sorted(src.rglob("*.scala"))
    if not files:
        raise BuildError(f"no Scala sources under {src}")
    jar, stamp = out / f"{name}.jar", out / f"{name}.stamp"
    digest = _digest(files, classpath, salt)
    if jar.exists() and _fresh(stamp, digest):
        return digest
    classes = out / f"{name}-classes"
    shutil.rmtree(classes, ignore_errors=True)
    classes.mkdir(parents=True)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", os.pathsep.join(spark_jars()),
           "scala.tools.nsc.Main", "-nowarn", "-d", str(classes),
           "-classpath", os.pathsep.join(classpath)] + [str(f) for f in files]
    print(f"[perfbench] compiling {name} ({len(files)} files)", file=sys.stderr)
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        shutil.rmtree(classes, ignore_errors=True)
        raise BuildError(f"compiling {name} failed:\n{proc.stdout[-4000:]}")
    tmp = jar.with_suffix(".tmp")
    with zipfile.ZipFile(tmp, "w", zipfile.ZIP_DEFLATED) as z:
        for f in sorted(classes.rglob("*")):
            if f.is_file():
                z.write(f, f.relative_to(classes).as_posix())
    tmp.replace(jar)
    shutil.rmtree(classes)
    stamp.write_text(digest)
    return digest


def _archive(out: Path, classpath: list, digest: str) -> None:
    """Dump the class-data-sharing archive from one short ``probe_join``
    run (set-up only, no measured phase). Best effort: without the archive
    the runs are only slower to start."""
    jsa, stamp = out / "perfbench.jsa", out / "perfbench.jsa.stamp"
    if jsa.exists() and _fresh(stamp, digest):
        return
    run = out / "archive-run"
    shutil.rmtree(run, ignore_errors=True)
    (run / "tmp").mkdir(parents=True)
    jsa.unlink(missing_ok=True)
    stamp.unlink(missing_ok=True)
    print("[perfbench] dumping the class-data-sharing archive", file=sys.stderr)
    cmd = ["java"] + JVM_FLAGS + [
        f"-XX:ArchiveClassesAtExit={jsa}", f"-Djava.io.tmpdir={run / 'tmp'}",
        "-cp", os.pathsep.join(classpath),
        "perfbench.Main", "probe_join", "1", "0", "0", str(run)]
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(run / "spark-local"))
    try:
        subprocess.run(cmd, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
                       env=env, cwd=run, timeout=300)
        if jsa.exists():
            stamp.write_text(digest)
    except subprocess.TimeoutExpired:
        jsa.unlink(missing_ok=True)
    finally:
        shutil.rmtree(run, ignore_errors=True)


def build(root: Path) -> tuple:
    """Build graft and the benchmark under ``root``. Returns the run classpath
    and the JVM options that use the shared archive (empty without one)."""
    jars = spark_jars()
    graft_src = root / "src" / "main" / "scala"
    if not graft_src.is_dir():
        raise BuildError(f"graft sources not found at {graft_src}")
    out = root / BUILD_DIR
    out.mkdir(exist_ok=True)
    graft_digest = _compile("graft", graft_src, out, jars)
    graft_jar = str(out / "graft.jar")
    bench_digest = _compile("perfbench", root / "perfbench" / "scala", out,
                            [graft_jar] + jars, salt=graft_digest)
    classpath = [str(out / "perfbench.jar"), graft_jar] + jars
    _archive(out, classpath, bench_digest + " ".join(JVM_FLAGS))
    jsa = out / "perfbench.jsa"
    return classpath, ([f"-XX:SharedArchiveFile={jsa}"] if jsa.exists() else [])


if __name__ == "__main__":
    try:
        print(os.pathsep.join(build(Path.cwd())[0]))
    except BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        sys.exit(2)
