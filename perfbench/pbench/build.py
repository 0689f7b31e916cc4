"""Builds the benchmark's Scala side together with the library sources.

The sources are compiled with the Scala compiler that ships in the Spark
distribution's jars, in one `java` call that writes only the classes
directory under perfbench/scala/target. No sbt, no dependency cache and
no home-directory state are involved. The build is keyed by a digest of
every source it compiles, so a checkout builds once and later runs
reuse the classes.
"""
import fcntl
import hashlib
import os
import shutil
import subprocess
from pathlib import Path

BUILD_TIMEOUT_S = 840


def spark_home() -> Path:
    """SPARK_HOME, else the distribution whose spark-submit is on PATH."""
    if "SPARK_HOME" in os.environ:
        return Path(os.environ["SPARK_HOME"])
    submit = shutil.which("spark-submit")
    if submit is None:
        raise RuntimeError("no Spark: set SPARK_HOME or put spark-submit on PATH")
    return Path(submit).resolve().parent.parent


def java() -> str:
    """JAVA_HOME's java, else the one on PATH."""
    home = os.environ.get("JAVA_HOME")
    if home and (Path(home) / "bin" / "java").exists():
        return str(Path(home) / "bin" / "java")
    found = shutil.which("java")
    if found is None:
        raise RuntimeError("no java: set JAVA_HOME or put java on PATH")
    return found


def sources(root: Path) -> list:
    """The library's main sources and the benchmark's, in path order."""
    files = sorted((root / "src" / "main" / "scala").rglob("*.scala"))
    files += sorted((root / "perfbench" / "scala" / "src").rglob("*.scala"))
    return files


def source_digest(root: Path) -> str:
    """sha256 over the compiled sources and this build script."""
    h = hashlib.sha256()
    for f in sources(root) + [Path(__file__).resolve()]:
        h.update(f.name.encode() if not f.is_relative_to(root)
                 else str(f.relative_to(root)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def ensure_built(root: Path, log):
    """Compile if the sources changed since the last build; return the
    classes directory and the digest of the sources it was built from."""
    target = root / "perfbench" / "scala" / "target"
    classes = target / "classes"
    stamp = target / "perfbench.stamp"
    target.mkdir(parents=True, exist_ok=True)
    with open(target / "perfbench.lock", "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        digest = source_digest(root)
        if stamp.exists() and stamp.read_text() == digest and classes.is_dir():
            return classes, digest
        stamp.unlink(missing_ok=True)
        fresh = target / "classes.new"
        tmp = target / "tmp"
        for d in (fresh, tmp):
            shutil.rmtree(d, ignore_errors=True)
            d.mkdir()
        jars = spark_home() / "jars"
        if not any(jars.glob("scala-compiler-*.jar")):
            raise RuntimeError(f"no Scala compiler among the Spark jars in {jars}")
        args = target / "scalac.args"
        args.write_text("\n".join(str(f) for f in sources(root)) + "\n")
        cmd = [java(), "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
               f"-Djava.io.tmpdir={tmp}", "-cp", f"{jars}/*",
               # an explicit class path keeps scalac's default "." (the
               # checkout, where perfbench/scala would shadow scala) out
               "scala.tools.nsc.Main", "-classpath", f"{jars}/*", "-nowarn",
               "-d", str(fresh), f"@{args}"]
        with open(target / "build.log", "w") as out:
            try:
                rc = subprocess.run(cmd, cwd=root, stdout=out,
                                    stderr=subprocess.STDOUT,
                                    timeout=BUILD_TIMEOUT_S).returncode
            except subprocess.TimeoutExpired:
                rc = "timeout"
        if rc != 0:
            raise RuntimeError(f"build failed ({rc}); see {target / 'build.log'}")
        shutil.rmtree(classes, ignore_errors=True)
        fresh.rename(classes)
        shutil.rmtree(tmp, ignore_errors=True)
        stamp.write_text(digest)
        log(f"built {classes}")
        return classes, digest
