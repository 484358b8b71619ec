"""Build file of the benchmark: compiles the program (src/main/scala) and the
benchmark (kgbench/src) from source with the Scala compiler shipped in the
Spark distribution, into .bench_build/kgbench.jar. Rebuilds only when a
source file changed. No sbt, no dependency resolution.

    python3 kgbench/build.py        # prints the runtime classpath
"""
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BUILD = ROOT / ".bench_build"


class BuildError(Exception):
    pass


def spark_jars() -> Path:
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = str(Path(submit).resolve().parent.parent)
    if not home or not (Path(home) / "jars").is_dir():
        raise BuildError("Spark not found: set SPARK_HOME or put spark-submit on PATH")
    return Path(home) / "jars"


def java() -> str:
    home = os.environ.get("JAVA_HOME")
    exe = str(Path(home) / "bin" / "java") if home else shutil.which("java")
    if not exe or not Path(exe).exists():
        raise BuildError("java not found: set JAVA_HOME or put java on PATH")
    return exe


def sources() -> list:
    program = ROOT / "src" / "main" / "scala"
    bench = ROOT / "kgbench" / "src"
    if not program.is_dir():
        raise BuildError(f"program sources missing: {program.relative_to(ROOT)}")
    return sorted(program.rglob("*.scala")) + sorted(bench.rglob("*.scala"))


def build() -> str:
    """Compile if needed; return the runtime classpath."""
    jars = spark_jars()
    srcs = sources()
    digest = hashlib.sha256()
    for p in srcs:
        digest.update(str(p.relative_to(ROOT)).encode())
        digest.update(p.read_bytes())
    stamp = digest.hexdigest()
    jar = BUILD / "kgbench.jar"
    classpath = f"{jar}{os.pathsep}{jars}/*"
    if jar.exists() and stamp_file().exists() and stamp_file().read_text() == stamp:
        return classpath
    BUILD.mkdir(exist_ok=True)
    fresh = BUILD / f"classes-{os.getpid()}"
    shutil.rmtree(fresh, ignore_errors=True)
    fresh.mkdir()
    print(f"[kgbench] compiling {len(srcs)} sources", file=sys.stderr, flush=True)
    argfile = BUILD / f"sources-{os.getpid()}.txt"
    argfile.write_text("\n".join(str(p) for p in srcs) + "\n")
    cmd = [java(), "-Xss8m", "-Xmx2g", "-cp", f"{jars}/*", "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-d", str(fresh), f"@{argfile}"]
    compiled = subprocess.run(cmd, stdout=sys.stderr).returncode == 0
    argfile.unlink()
    if not compiled:
        raise BuildError("compilation failed")
    tmp = BUILD / f"kgbench.jar.{os.getpid()}"
    with zipfile.ZipFile(tmp, "w", zipfile.ZIP_DEFLATED) as z:
        for f in sorted(fresh.rglob("*")):
            if f.is_file():
                z.write(f, f.relative_to(fresh).as_posix())
    tmp.replace(jar)
    shutil.rmtree(fresh)
    stamp_file().write_text(stamp)
    return classpath


def stamp_file() -> Path:
    """Source digest of the current jar."""
    return BUILD / "kgbench.jar.stamp"


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"[kgbench] build error: {e}", file=sys.stderr)
        sys.exit(2)
