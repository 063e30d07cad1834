"""Build file of the benchmark: compiles the program (`src/main/scala`) and
the harness (`perfbench/src`) with the Scala compiler that ships in Spark's
jar directory, into `.bench_build/perfbench/classes-<source hash>`.

The output is reused while no source file changes. Spark's jars are found
at `$SPARK_HOME/jars`, else in the installed `pyspark` package.

Usage: python3 perfbench/build.py   (prints the classes directory)
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
OUT = ROOT / ".bench_build" / "perfbench"


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if home and (Path(home) / "jars").is_dir():
        return Path(home) / "jars"
    try:
        import pyspark
        jars = Path(pyspark.__file__).parent / "jars"
        if jars.is_dir():
            return jars
    except ImportError:
        pass
    raise SystemExit("Spark jars not found: set SPARK_HOME")


def sources():
    main = ROOT / "src" / "main" / "scala"
    if not main.is_dir():
        raise SystemExit(f"program sources not found under {main}")
    return sorted(main.rglob("*.scala")) + sorted((HERE / "src").rglob("*.scala"))


def build(log=sys.stderr):
    """Compile if needed; return the classes directory."""
    jars = spark_jars()
    files = sources()
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    h.update("\n".join(sorted(p.name for p in jars.glob("*.jar"))).encode())
    dest = OUT / f"classes-{h.hexdigest()[:16]}"
    if (dest / ".complete").exists():
        return dest
    OUT.mkdir(parents=True, exist_ok=True)
    for old in OUT.glob("*"):
        shutil.rmtree(old, ignore_errors=True)
    tmp = OUT / f"tmp-{os.getpid()}"
    tmp.mkdir()
    argfile = OUT / f"sources-{os.getpid()}.txt"
    argfile.write_text("\n".join(str(f) for f in files))
    cp = f"{jars}/*"
    print(f"[perfbench] compiling {len(files)} sources", file=log, flush=True)
    subprocess.run(["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", cp,
                    "scala.tools.nsc.Main",
                    "-nowarn", "-d", str(tmp), "-classpath", cp, f"@{argfile}"],
                   check=True, stdout=log, stderr=log)
    argfile.unlink()
    (tmp / ".complete").write_text("")
    tmp.rename(dest)
    return dest


if __name__ == "__main__":
    print(build())
