"""Build file of the benchmark package: compiles the graft main sources of
the current directory and this package's own JVM program (perfbench/src) with the
Scala compiler that ships in the Spark distribution's jars, into
.bench_build/perfbench/classes-<hash>.

The hash covers every compiled source and resource, so an unchanged tree
reuses its classes and a changed one rebuilds. Usage:

    python3 perfbench/build.py          # prints the classes directory
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

BUILD_DIR = Path(".bench_build") / "perfbench"
HERE = Path(__file__).resolve().parent


def spark_jars():
    """The Spark distribution's jars directory: $SPARK_HOME/jars, else the
    one beside the spark-submit found on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = str(Path(os.path.realpath(submit)).parent.parent)
    jars = Path(home or "") / "jars"
    if not home or not jars.is_dir():
        raise SystemExit("perfbench: no Spark distribution found "
                         "(set SPARK_HOME or put spark-submit on PATH)")
    return jars


def java_bin():
    home = os.environ.get("JAVA_HOME")
    if home and (Path(home) / "bin" / "java").exists():
        return str(Path(home) / "bin" / "java")
    found = shutil.which("java")
    if not found:
        raise SystemExit("perfbench: no java found (set JAVA_HOME)")
    return found


def sources(root):
    main = root / "src" / "main"
    scala = sorted(p for p in (main / "scala").rglob("*.scala"))
    scala += sorted((HERE / "src").glob("*.scala"))
    resources = sorted(p for p in (main / "resources").rglob("*") if p.is_file())
    return scala, resources


def build(root):
    root = Path(root)
    if not (root / "src" / "main" / "scala").is_dir():
        raise SystemExit("perfbench: no graft sources under src/main/scala "
                         "(run from the root of a graft checkout)")
    scala, resources = sources(root)
    jars = spark_jars()
    h = hashlib.sha256()
    for p in scala + resources:
        h.update(p.name.encode())
        h.update(p.read_bytes())
    for j in sorted(jars.glob("*.jar")):
        h.update(j.name.encode())
    out = root / BUILD_DIR / f"classes-{h.hexdigest()[:16]}"
    if (out / ".done").exists():
        return out, jars
    tmp = out.with_name(out.name + ".tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    argfile = tmp / "sources.txt"
    argfile.write_text("\n".join(str(p) for p in scala) + "\n")
    cp = str(jars / "*")
    cmd = [java_bin(), "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", cp,
           "scala.tools.nsc.Main",
           "-nowarn", "-d", str(tmp), "-classpath", cp, f"@{argfile}"]
    print(f"perfbench: compiling {len(scala)} sources", file=sys.stderr)
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise SystemExit(f"perfbench: compile failed ({r.returncode})")
    res_root = root / "src" / "main" / "resources"
    for p in resources:
        dst = tmp / p.relative_to(res_root)
        dst.parent.mkdir(parents=True, exist_ok=True)
        shutil.copyfile(p, dst)
    argfile.unlink()
    for old in (root / BUILD_DIR).glob("classes-*"):
        if old != tmp:
            shutil.rmtree(old, ignore_errors=True)
    tmp.rename(out)
    (out / ".done").write_text("ok\n")
    return out, jars


if __name__ == "__main__":
    print(build(Path.cwd())[0])
