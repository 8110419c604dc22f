"""Build for the graft benchmark: compiles the repository's graft sources
together with the benchmark's own Scala sources with the Scala compiler
that ships in Spark's jar directory. No sbt and no dependency resolution:
the classpath is Spark's jars, exactly as the repository's own build uses
them. Outputs are cached under the build directory by a hash of every
source, so only the first run of a checkout compiles."""

import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
GRAFT_SRC = ROOT / "src" / "main" / "scala"
GRAFT_RES = ROOT / "src" / "main" / "resources"
BENCH_SRC = HERE / "src"


class BuildError(Exception):
    pass


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else next to spark-submit."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            raise BuildError("set SPARK_HOME or put spark-submit on PATH")
        home = Path(submit).resolve().parent.parent
    jars = Path(home) / "jars"
    if not (jars / "scala-compiler-2.13.17.jar").is_file():
        raise BuildError(f"no Spark 4 / Scala 2.13.17 jar directory at {jars}")
    return jars


def build_root():
    """Where builds, run scratch space and trace output go (inside the
    checkout: CARGO_TARGET_DIR when set, else .bench_build)."""
    d = Path(os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    return d if d.is_absolute() else ROOT / d


def sources():
    if not GRAFT_SRC.is_dir():
        raise BuildError(f"graft sources not found at {GRAFT_SRC}: run from a graft checkout")
    srcs = sorted(GRAFT_SRC.rglob("*.scala")) + sorted(BENCH_SRC.rglob("*.scala"))
    if not srcs:
        raise BuildError("no Scala sources to build")
    return srcs


def source_hash(srcs):
    h = hashlib.sha256()
    for p in srcs:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()[:16]


def classpath(classes):
    return os.pathsep.join([str(classes), str(GRAFT_RES), str(spark_jars() / "*")])


def ensure_built(log=sys.stderr):
    """Compile when the sources changed; returns the runtime classpath and
    whether this call compiled."""
    srcs = sources()
    jars = spark_jars()
    out = build_root() / f"classes-{source_hash(srcs)}"
    if (out / ".done").is_file():
        return classpath(out), False
    tmp = out.with_name(out.name + f".tmp{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    argfile = tmp / "sources.txt"
    argfile.write_text("".join(f'"{p}"\n' for p in srcs))  # quoted: paths may hold spaces
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-cp", str(jars / "*"), "scala.tools.nsc.Main",
           "-nowarn", "-classpath", str(jars / "*"), "-d", str(tmp), f"@{argfile}"]
    print(f"[perfbench] compiling {len(srcs)} sources into {out}", file=log, flush=True)
    r = subprocess.run(cmd, stdout=log, stderr=log, timeout=780)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError(f"scalac exited with {r.returncode}")
    argfile.unlink()
    (tmp / ".done").write_text("ok\n")
    if out.exists():  # a concurrent build finished first
        shutil.rmtree(tmp, ignore_errors=True)
    else:
        tmp.rename(out)
    return classpath(out), True
