#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine sources (src/main/scala)
together with the benchmark's own sources (perfbench/src) using the Scala
compiler that ships with Spark, into a class directory keyed by a hash of
every input. Run directly to build; run.py calls build() before each run.

    python3 perfbench/build.py
"""
import hashlib
import os
import pathlib
import shutil
import subprocess
import sys

BENCH = pathlib.Path(__file__).resolve().parent
REPO = BENCH.parent
OUT = REPO / ".bench_build" / "perfbench"
ENGINE_SRC = REPO / "src" / "main" / "scala"
ENGINE_RES = REPO / "src" / "main" / "resources"
BENCH_SRC = BENCH / "src"
# the generator and the kernel it normalizes its rows through: a change to
# any of these changes the cached inputs' key
INPUT_SOURCES = [ENGINE_SRC / "graft" / "synth", ENGINE_SRC / "graft" / "xmq",
                 ENGINE_SRC / "graft" / "expr", BENCH_SRC / "graft" / "perfbench" / "Inputs.scala"]


class BuildError(Exception):
    pass


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = str(pathlib.Path(submit).resolve().parent.parent)
    if not home or not (pathlib.Path(home) / "jars").is_dir():
        raise BuildError("Spark not found: set SPARK_HOME or put spark-submit on PATH")
    return pathlib.Path(home) / "jars"


def java():
    home = os.environ.get("JAVA_HOME")
    exe = pathlib.Path(home) / "bin" / "java" if home else None
    if exe and exe.exists():
        return str(exe)
    found = shutil.which("java")
    if not found:
        raise BuildError("java not found: set JAVA_HOME or put java on PATH")
    return found


def _files(roots, suffixes):
    out = []
    for root in roots:
        root = pathlib.Path(root)
        if root.is_file():
            out.append(root)
        elif root.is_dir():
            out.extend(p for p in root.rglob("*") if p.is_file() and p.suffix in suffixes)
    return sorted(out)


def digest(paths):
    h = hashlib.sha256()
    for p in paths:
        h.update(str(p.relative_to(REPO)).encode())
        h.update(b"\0")
        h.update(p.read_bytes())
        h.update(b"\0")
    return h.hexdigest()[:16]


def input_key():
    """Hash of the sources that decide the generated rows."""
    return digest(_files(INPUT_SOURCES, {".scala"}))


def build(log=sys.stderr):
    """Compile if needed; returns the runtime classpath (a list of entries)."""
    if not ENGINE_SRC.is_dir():
        raise BuildError(f"engine sources missing: {ENGINE_SRC.relative_to(REPO)}")
    sources = _files([ENGINE_SRC, BENCH_SRC], {".scala", ".java"})
    key = digest(sources + [pathlib.Path(__file__).resolve()])
    classes = OUT / f"classes-{key}"
    jars = spark_jars()
    cp = [str(classes), str(ENGINE_RES), str(jars / "*")]
    if (classes / "BUILT").exists():
        return cp
    OUT.mkdir(parents=True, exist_ok=True)
    for old in OUT.glob("classes-*"):
        shutil.rmtree(old, ignore_errors=True)
    tmp = OUT / f"building-{key}"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    argfile = OUT / "sources.txt"
    argfile.write_text("\n".join(str(s) for s in sources) + "\n")
    print(f"perfbench: compiling {len(sources)} sources", file=log, flush=True)
    cmd = [java(), "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", str(jars / "*"), "scala.tools.nsc.Main",
           "-nowarn", "-d", str(tmp), "-cp", str(jars / "*"), f"@{argfile}"]
    res = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if res.returncode != 0:
        raise BuildError("compilation failed:\n" + res.stdout[-4000:])
    (tmp / "BUILT").write_text(key + "\n")
    tmp.rename(classes)
    return cp


if __name__ == "__main__":
    try:
        print(os.pathsep.join(build()))
    except BuildError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        sys.exit(2)
