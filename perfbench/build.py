#!/usr/bin/env python3
"""Build the program and the benchmark harness from source.

Compiles the program's main sources (src/main/scala, plus
src/main/resources) and the harness (perfbench/src) with the Scala
compiler that ships with Spark ($SPARK_HOME/jars, else the unmanagedBase
named in build.sbt), into .bench_build/program-<hash>/ and
.bench_build/harness-<hash>/ under the checkout root. Each hash covers
every input file of its part (the harness's also the program's), so an
unchanged tree is never rebuilt and a changed one never runs stale
classes.

    python3 perfbench/build.py        # prints the run classpath
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

BUILD_DIR = ".bench_build"


class BuildError(Exception):
    pass


def spark_jars(root: Path) -> Path:
    """Spark's jars: $SPARK_HOME/jars, else the `unmanagedBase` the
    program's build.sbt compiles against."""
    home = os.environ.get("SPARK_HOME")
    if home:
        jars = Path(home) / "jars"
    else:
        sbt = root / "build.sbt"
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text()) if sbt.exists() else None
        if not m:
            raise BuildError("set SPARK_HOME: build.sbt names no unmanagedBase for Spark's jars")
        jars = Path(m.group(1))
    if not any(jars.glob("scala-compiler-*.jar")):
        raise BuildError(f"no Spark jars with a Scala compiler under {jars}")
    return jars


def java() -> str:
    home = os.environ.get("JAVA_HOME")
    return str(Path(home) / "bin" / "java") if home else "java"


def _files(root: Path, sub: str):
    base = root / sub
    return sorted(p for p in base.rglob("*") if p.is_file()) if base.is_dir() else []


def _scalac(jars: Path, classpath: str, out: Path, sources) -> None:
    out.mkdir(parents=True)
    args = out.parent / f"{out.name}.args"
    args.write_text("\n".join(str(s) for s in sources) + "\n")
    cmd = [java(), "-Xss8m", "-Xmx2g", "-cp", f"{jars}/*", "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-deprecation:false", "-d", str(out)]
    if classpath:
        cmd += ["-classpath", classpath]
    cmd.append(f"@{args}")
    res = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if res.returncode != 0:
        raise BuildError(f"scalac failed for {out.name} (exit {res.returncode})")


def _digest(root: Path, files, extra: str = "") -> str:
    h = hashlib.sha256(extra.encode())
    for p in files:
        h.update(str(p.relative_to(root)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()[:16]


def _compile_once(out: Path, compile_into) -> None:
    """Compile into a fresh temp dir and rename it to `out` when done,
    so an interrupted build never leaves a half-filled `out`."""
    if (out / "ok").exists():
        return
    kind = out.name.split("-")[0]
    for old in out.parent.glob(f"{kind}-*"):
        shutil.rmtree(old, ignore_errors=True)
    tmp = out.parent / f"tmp-{kind}-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    try:
        compile_into(tmp)
        (tmp / "ok").write_text("")
        tmp.rename(out)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def build(root: Path) -> str:
    """Build what changed; return the classpath of harness + program + Spark."""
    program = [p for p in _files(root, "src/main/scala") if p.suffix in (".scala", ".java")]
    harness = [p for p in _files(root, "perfbench/src") if p.suffix == ".scala"]
    if not program:
        raise BuildError(f"no program sources under {root / 'src/main/scala'}")
    if not harness:
        raise BuildError(f"no harness sources under {root / 'perfbench/src'}")
    resources = _files(root, "src/main/resources")
    jars = spark_jars(root)
    top = root / BUILD_DIR

    prog_key = _digest(root, program + resources)
    prog = top / f"program-{prog_key}"

    def compile_program(tmp: Path) -> None:
        _scalac(jars, "", tmp / "classes", program)
        for r in resources:
            dst = tmp / "classes" / r.relative_to(root / "src/main/resources")
            dst.parent.mkdir(parents=True, exist_ok=True)
            shutil.copyfile(r, dst)

    _compile_once(prog, compile_program)
    harn = top / f"harness-{_digest(root, harness, prog_key)}"
    _compile_once(harn, lambda tmp: _scalac(jars, str(prog / "classes"), tmp / "classes", harness))
    return f"{harn / 'classes'}:{prog / 'classes'}:{jars}/*"


if __name__ == "__main__":
    try:
        print(build(Path.cwd()))
    except BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(1)
