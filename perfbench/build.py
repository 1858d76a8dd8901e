"""Build step of the benchmark: compile the engine (src/main/scala) and the
benchmark's JVM program (perfbench/src) with the Scala compiler that ships
with Spark, into one class directory keyed by a hash of every source file.

A checkout builds once; later runs reuse the class directory while no
source changes. The build directory is $CARGO_TARGET_DIR when set, else
.bench_build under the checkout.
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

SCALAC_OPTS = ["-usejavacp", "-nowarn", "-deprecation", "-unchecked"]


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            raise RuntimeError("no Spark distribution: set SPARK_HOME")
        home = Path(submit).resolve().parent.parent
    jars = Path(home) / "jars"
    if not jars.is_dir():
        raise RuntimeError(f"no jars directory under SPARK_HOME={home}")
    return jars


def sources(root):
    engine = root / "src" / "main" / "scala"
    if not engine.is_dir():
        raise RuntimeError(f"no engine sources under {engine}")
    return sorted(engine.rglob("*.scala")) + sorted((root / "perfbench" / "src").rglob("*.scala"))


def ensure(root):
    """Return the classpath of a build of `root`, compiling if needed."""
    root = Path(root).resolve()
    srcs = sources(root)
    h = hashlib.sha256(" ".join(SCALAC_OPTS).encode())
    for p in srcs:
        h.update(p.relative_to(root).as_posix().encode())
        h.update(p.read_bytes())
    base = Path(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    if not base.is_absolute():
        base = root / base
    classes = base / f"classes-{h.hexdigest()[:16]}"
    jars = spark_jars()
    cp = f"{classes}{os.pathsep}{jars}/*"
    if (classes / ".built").exists():
        return cp
    tmp = base / f"tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    args = tmp / "sources.txt"
    args.write_text("\n".join(str(p) for p in srcs) + "\n")
    print(f"[perfbench] compiling {len(srcs)} sources", file=sys.stderr, flush=True)
    subprocess.run(["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", f"{jars}/*",
                    "scala.tools.nsc.Main", *SCALAC_OPTS, "-d", str(tmp), f"@{args}"],
                   check=True, timeout=800, stdout=sys.stderr)
    args.unlink()
    (tmp / ".built").touch()
    shutil.rmtree(classes, ignore_errors=True)
    tmp.rename(classes)
    return cp
