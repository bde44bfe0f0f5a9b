"""Build file of the perfbench harness.

Compiles the library (src/main/scala) and the harness (perfbench/harness)
with the Scala compiler that ships among the Spark jars, into .bench_build/
at the checkout root (or $CARGO_TARGET_DIR when set). A stamp of the source
digest skips the build when nothing changed. No sbt, no dependency fetch.

    python3 perfbench/build.py        # build (or confirm up to date)
"""

import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BENCH = ROOT / "perfbench"


class BuildError(RuntimeError):
    pass


def build_dir():
    return ROOT / os.environ.get("CARGO_TARGET_DIR", ".bench_build")


def spark_jars():
    """$SPARK_HOME/jars, else the jars of the first Spark distribution whose
    spark-submit is on PATH."""
    home = os.environ.get("SPARK_HOME")
    if home:
        return Path(home) / "jars"
    for d in os.environ.get("PATH", "").split(os.pathsep):
        submit = Path(d) / "spark-submit"
        if submit.is_file():
            jars = submit.resolve().parent.parent / "jars"
            if jars.is_dir():
                return jars
    raise BuildError("Spark not found: set SPARK_HOME")


def _sources():
    lib = sorted((ROOT / "src" / "main" / "scala").rglob("*.scala"))
    harness = sorted((BENCH / "harness").glob("*.scala"))
    return lib, harness


def _digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def source_digest():
    lib, harness = _sources()
    return _digest(lib + harness)


def _scalac(out, classpath, files, tmp):
    if out.exists():
        shutil.rmtree(out)
    out.mkdir(parents=True)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
           "-Djava.io.tmpdir=%s" % tmp,
           "-cp", str(spark_jars() / "*"), "scala.tools.nsc.Main", "-nowarn",
           "-classpath", classpath, "-d", str(out)] + [str(f) for f in files]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True)
    if r.returncode != 0:
        raise BuildError("scalac failed:\n" + r.stdout[-4000:])


def build():
    """Build if needed; returns the runtime classpath string."""
    lib, harness = _sources()
    if not lib:
        raise BuildError("no library sources under %s" % (ROOT / "src/main/scala"))
    if not harness:
        raise BuildError("no harness sources under %s" % (BENCH / "harness"))
    if shutil.which("java") is None:
        raise BuildError("java not found on PATH")
    if not spark_jars().is_dir():
        raise BuildError("Spark jars not found at %s (set SPARK_HOME)" % spark_jars())
    out = build_dir()
    lib_dir, harness_dir = out / "lib", out / "harness"
    jars = str(spark_jars() / "*")
    stamp = out / "stamp"
    digest = _digest(lib + harness)
    if not (stamp.exists() and stamp.read_text() == digest
            and lib_dir.is_dir() and harness_dir.is_dir()):
        tmp = out / "tmp"
        tmp.mkdir(parents=True, exist_ok=True)
        if stamp.exists():
            stamp.unlink()
        _scalac(lib_dir, jars, lib, tmp)
        _scalac(harness_dir, os.pathsep.join([str(lib_dir), jars]), harness, tmp)
        stamp.write_text(digest)
    return os.pathsep.join([str(harness_dir), str(lib_dir), jars])


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print("build failed: %s" % e, file=sys.stderr)
        sys.exit(1)
