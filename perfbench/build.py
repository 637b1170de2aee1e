"""Build file of the benchmark package.

Compiles graft's main sources (src/main/scala) and the benchmark's own
Scala sources (perfbench/src) with the Scala compiler that ships in Spark's
jars directory, the same jars graft's build.sbt compiles against. Output
goes to .bench_build/perfbench/classes; a build whose sources are unchanged
is skipped.

Usage, from the repository root:  python3 perfbench/build.py
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

OUT = Path(".bench_build") / "perfbench"


class BuildError(Exception):
    pass


def spark_jars():
    """Spark's jars directory: $SPARK_HOME/jars, else next to spark-submit."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = str(Path(submit).resolve().parent.parent)
    jars = Path(home or "") / "jars"
    if not home or not any(jars.glob("scala-compiler-*.jar")):
        raise BuildError("no Spark jars with a Scala compiler; set SPARK_HOME")
    return jars


def java():
    home = os.environ.get("JAVA_HOME")
    return str(Path(home) / "bin" / "java") if home else "java"


def scala_files(d):
    return sorted(p for p in Path(d).rglob("*.scala") if p.is_file())


def stamp(files, extra):
    h = hashlib.sha256(extra.encode())
    for f in files:
        h.update(str(f).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def compile_tree(name, files, classpath, jars, log):
    """Compiles `files` into OUT/classes/<name>, unless its stamp matches."""
    dest = OUT / "classes" / name
    key = stamp(files, classpath)
    stamp_file = OUT / "classes" / f"{name}.stamp"
    if dest.is_dir() and stamp_file.exists() and stamp_file.read_text() == key:
        return dest
    tmp = OUT / "classes" / f"{name}.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    cmd = [java(), "-Xss16m", "-Xmx2g", "-XX:-UsePerfData",
           "-cp", f"{jars}/*", "scala.tools.nsc.Main", "-usejavacp", "-nowarn",
           "-d", str(tmp)]
    if classpath:
        cmd += ["-classpath", classpath]
    print(f"[perfbench] compiling {name}: {len(files)} files", file=log, flush=True)
    r = subprocess.run(cmd + [str(f) for f in files], stdout=log, stderr=log)
    if r.returncode != 0:
        raise BuildError(f"compiling {name} failed")
    shutil.rmtree(dest, ignore_errors=True)
    tmp.rename(dest)
    stamp_file.write_text(key)
    return dest


def build(log=sys.stderr):
    """Builds graft and the benchmark; returns the JVM classpath."""
    graft_src = Path("src") / "main" / "scala"
    graft_files = scala_files(graft_src)
    if not graft_files:
        raise BuildError(f"no graft sources under {graft_src}")
    jars = spark_jars()
    graft = compile_tree("graft", graft_files, "", jars, log)
    bench = compile_tree("bench", scala_files(Path(__file__).parent / "src"),
                         str(graft.resolve()), jars, log)
    return os.pathsep.join([str(bench.resolve()), str(graft.resolve()), f"{jars}/*"])


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        sys.exit(2)
