"""Build step of the benchmark: compiles the repository's main sources, then
the benchmark's own Scala sources against them, with the Scala compiler that
ships in Spark's jar directory, into `<build dir>/classes/{program,bench}`.

Each half is skipped when a stamp of its source files' paths and contents
(and of everything it compiles against) matches its last successful build.
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path


class BuildError(Exception):
    pass


def spark_jars(root):
    """Spark's jar directory: the `unmanagedBase` that the repository's
    build.sbt compiles against, or else $SPARK_HOME/jars."""
    sbt = root / "build.sbt"
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)',
                  sbt.read_text() if sbt.exists() else "")
    if m:
        jars = Path(m.group(1))
    elif "SPARK_HOME" in os.environ:
        jars = Path(os.environ["SPARK_HOME"]) / "jars"
    else:
        raise BuildError(f"no unmanagedBase in {sbt} and no SPARK_HOME")
    if not any(jars.glob("scala-compiler-*.jar")):
        raise BuildError(f"no Spark jar directory with a Scala compiler at {jars}")
    return jars


def stamp(files, extra):
    h = hashlib.sha256(extra.encode())
    for f in files:
        h.update(str(f).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def compile_once(name, files, classpath, extra, build_dir, jars):
    """Compile `files` into build_dir/classes/name unless its stamp matches;
    return (classes dir, stamp)."""
    out = build_dir / "classes" / name
    stamp_file = build_dir / "classes" / f"{name}.stamp"
    want = stamp(files, extra)
    if stamp_file.exists() and stamp_file.read_text() == want and out.is_dir():
        return out, want
    if out.exists():
        shutil.rmtree(out)
    out.mkdir(parents=True)
    argfile = build_dir / f"scalac-{name}.args"
    argfile.write_text("\n".join(str(f) for f in files) + "\n")
    log = build_dir / f"build-{name}.log"
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", f"{jars}/*", "scala.tools.nsc.Main",
           "-nowarn", "-d", str(out), "-classpath", classpath, f"@{argfile}"]
    with open(log, "wb") as lf:
        rc = subprocess.run(cmd, stdout=lf, stderr=subprocess.STDOUT, cwd=build_dir).returncode
    if rc != 0:
        sys.stderr.write(log.read_text(errors="replace")[-4000:])
        raise BuildError(f"scalac exited with {rc} building {name}; see {log}")
    stamp_file.write_text(want)
    return out, want


def build(root, build_dir):
    """Return the runtime classpath, compiling first where sources changed."""
    root, build_dir = root.resolve(), build_dir.resolve()
    jars = spark_jars(root)
    main = root / "src" / "main" / "scala"
    if not (main / "graft").is_dir():
        raise BuildError(f"program sources not found under {main}")
    own = Path(__file__).resolve().parent / "src"
    listing = ",".join(sorted(j.name for j in jars.glob("*.jar")))
    program, program_stamp = compile_once(
        "program", sorted(main.rglob("*.scala")), f"{jars}/*", listing, build_dir, jars)
    bench, _ = compile_once(
        "bench", sorted(own.rglob("*.scala")), f"{program}:{jars}/*",
        listing + program_stamp, build_dir, jars)
    return f"{bench}:{program}:{jars}/*"
