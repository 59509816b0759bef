"""Build for the link-graph benchmark: compiles the engine (src/main/scala)
and the benchmark's JVM program (perfbench/scala) with the Scala compiler
that ships in Spark's jar directory: $SPARK_HOME/jars, else the
`unmanagedBase` directory the repository's own build.sbt compiles against.
No sbt, so nothing is written outside the build directory.

Each stage is cached under <build_dir>/classes/<stage>-<source hash>, so an
unchanged tree compiles once per checkout.

    python3 perfbench/build.py            # build from the repository root
"""

import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys
import tempfile

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))


def spark_jars(root):
    if os.environ.get("SPARK_HOME"):
        jar_dir = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        with open(os.path.join(root, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        jar_dir = m.group(1) if m else ""
    jars = sorted(glob.glob(os.path.join(jar_dir, "*.jar")))
    if not jars:
        raise SystemExit(f"no Spark jars in {jar_dir!r} (set SPARK_HOME)")
    return jars


def build_dir(root):
    return os.path.join(root, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))


def _sources(src_root):
    return sorted(glob.glob(os.path.join(src_root, "**", "*.scala"), recursive=True))


def _digest(paths, extra=""):
    h = hashlib.sha256(extra.encode())
    for p in paths:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def _compile(name, sources, classpath, out_root, log):
    """Compile `sources` into out_root/<name>-<hash> unless it already exists."""
    target = os.path.join(out_root, f"{name}-{_digest(sources, ':'.join(classpath))}")
    if os.path.isdir(target):
        return target
    os.makedirs(out_root, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix=f".{name}-", dir=out_root)
    compiler_cp = [j for j in classpath
                   if os.path.basename(j).startswith(("scala-compiler", "scala-library", "scala-reflect"))]
    cmd = ["java", "-Xss16m", "-Xmx2g", "-cp", ":".join(compiler_cp), "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-classpath", ":".join(classpath)] + sources
    print(f"[build] compiling {len(sources)} {name} sources", file=log, flush=True)
    r = subprocess.run(cmd, stdout=log, stderr=log)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise SystemExit(f"[build] {name} compile failed (rc {r.returncode})")
    try:
        os.rename(tmp, target)
    except OSError:  # a concurrent build won the rename
        shutil.rmtree(tmp, ignore_errors=True)
    return target


def ensure_built(root, log=sys.stderr):
    """Return the runtime classpath (engine classes, bench classes, Spark jars)."""
    engine_src = os.path.join(root, "src", "main", "scala")
    engine = _sources(engine_src)
    if not engine:
        raise SystemExit(f"[build] no engine sources under {engine_src}")
    jars = spark_jars(root)
    out_root = os.path.join(build_dir(root), "classes")
    engine_cls = _compile("engine", engine, jars, out_root, log)
    bench_cls = _compile("bench", _sources(os.path.join(BENCH_DIR, "scala")), [engine_cls] + jars, out_root, log)
    return [bench_cls, engine_cls] + jars


if __name__ == "__main__":
    ensure_built(os.getcwd(), sys.stdout)
