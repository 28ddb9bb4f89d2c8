#!/usr/bin/env python3
"""Build file of the benchmark.

Compiles the program's sources (src/main/scala) into
perfbench/.build/program.jar, then the benchmark's own (perfbench/src)
into perfbench/.build/bench.jar, with the Scala compiler and the jars of
the Spark distribution under SPARK_HOME (or the one whose spark-submit is
on PATH). A digest of the sources skips a stage when nothing it depends
on changed.

Then it records a class-data-sharing archive of one short pipeline_dedup run
(perfbench/.build/app.jsa). Every run maps it instead of loading and
verifying the same ~10k JVM classes again, which takes seconds off each
session start. Every run requires it (-Xshare:on): a run whose JVM cannot
map the archive fails rather than measuring a slower start, and so does a
build whose recording fails.

    python3 perfbench/build.py
"""
import hashlib
import os
import pathlib
import shutil
import subprocess
import sys
import time
import zipfile

HERE = pathlib.Path(__file__).resolve().parent
ROOT = HERE.parent
OUT = HERE / ".build"
ARCHIVE = OUT / "app.jsa"
# a cold build ends within this; with the run after it, under 15 minutes
BUILD_LIMIT_S = 600
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def spark_jars() -> pathlib.Path:
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit is None:
            raise SystemExit("perfbench: set SPARK_HOME or put spark-submit on PATH")
        home = str(pathlib.Path(submit).resolve().parent.parent)
    jars = pathlib.Path(home) / "jars"
    if not jars.is_dir():
        raise SystemExit(f"perfbench: no jars directory under {home}")
    return jars


def run_step(what: str, cmd: list, deadline: float, **kw) -> None:
    """Run one build step; stop the build if it fails or passes `deadline`."""
    try:
        rc = subprocess.run(cmd, cwd=ROOT, timeout=max(1.0, deadline - time.monotonic()),
                            **kw).returncode
    except subprocess.TimeoutExpired:
        rc = "timeout"
    if rc != 0:
        raise SystemExit(f"perfbench: {what} failed ({rc})")


def compile_stage(name: str, srcs: list, classpath: list, salt: str, deadline: float) -> tuple:
    """Compile `srcs` into OUT/name.jar unless their digest (plus `salt`)
    is unchanged; return (jar, digest)."""
    digest = hashlib.sha256(salt.encode())
    for p in srcs:
        digest.update(str(p.relative_to(ROOT)).encode())
        digest.update(p.read_bytes())
    stamp = digest.hexdigest()
    jar, stamp_file = OUT / f"{name}.jar", OUT / f"{name}.stamp"
    if stamp_file.is_file() and stamp_file.read_text() == stamp and jar.is_file():
        return jar, stamp
    jars = spark_jars()
    compiler = [next(jars.glob(f"{n}-2.13*.jar"), None)
                for n in ("scala-compiler", "scala-library", "scala-reflect")]
    if None in compiler:
        raise SystemExit(f"perfbench: no Scala 2.13 compiler jars in {jars}")
    classes = OUT / name
    shutil.rmtree(classes, ignore_errors=True)
    stamp_file.unlink(missing_ok=True)
    classes.mkdir(parents=True)
    argfile = OUT / f"{name}.sources"
    argfile.write_text("\n".join(str(p) for p in srcs) + "\n")
    cmd = ["java", "-XX:-UsePerfData", "-Xmx2g", "-Xss8m", "-cp", os.pathsep.join(map(str, compiler)),
           "scala.tools.nsc.Main", "-nowarn", "-usejavacp:false",
           "-classpath", os.pathsep.join(map(str, classpath)),
           "-d", str(classes), f"@{argfile}"]
    print(f"perfbench: compiling {len(srcs)} {name} sources", file=sys.stderr, flush=True)
    run_step(f"compiling the {name} sources", cmd, deadline, stdout=sys.stderr)
    # class-data sharing maps classes from jars only, not from directories
    with zipfile.ZipFile(jar, "w", zipfile.ZIP_STORED) as z:
        for f in sorted(classes.rglob("*")):
            if f.is_file():
                z.write(f, f.relative_to(classes))
    shutil.rmtree(classes)
    stamp_file.write_text(stamp)
    return jar, stamp


def main_cmd(classpath: str, tmp: pathlib.Path, cds: list) -> list:
    """The JVM command line of perfbench.Main, before its arguments."""
    # no perf-data file: the JVM would write it outside the checkout
    return (["java"] + cds + ["-XX:-UsePerfData", "-Xmx3g", "-Xss8m", f"-Djava.io.tmpdir={tmp}"]
            + [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
            + ["-cp", classpath, "perfbench.Main"])


def record_archive(classpath: str, stamp: str, deadline: float) -> None:
    """Dump the classes one short pipeline_dedup run loads into ARCHIVE."""
    stamp_file = OUT / "app.stamp"
    if ARCHIVE.is_file() and stamp_file.is_file() and stamp_file.read_text() == stamp:
        return
    ARCHIVE.unlink(missing_ok=True)
    stamp_file.unlink(missing_ok=True)
    tmp = OUT / "train"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir()
    print("perfbench: recording the class-data archive", file=sys.stderr, flush=True)
    cmd = main_cmd(classpath, tmp, [f"-XX:ArchiveClassesAtExit={ARCHIVE}"]) + [
        "--workload", "pipeline_dedup", "--seed", "0", "--seconds", "1", "--trace", "0",
        "--tmp", str(tmp), "--result", str(tmp / "result.json"), "--spans", str(tmp / "spans.json")]
    log = OUT / "train.log"
    try:
        with open(log, "w") as lf:
            run_step("recording the class-data archive", cmd, deadline,
                     stdout=lf, stderr=subprocess.STDOUT)
        if not ARCHIVE.is_file():
            raise SystemExit("perfbench: the JVM wrote no class-data archive")
    except SystemExit:
        sys.stderr.write("".join(log.read_text().splitlines(True)[-40:]))
        ARCHIVE.unlink(missing_ok=True)
        raise
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    stamp_file.write_text(stamp)


def ensure() -> tuple:
    """Build what changed; return (classpath, class-data-sharing flags)."""
    deadline = time.monotonic() + BUILD_LIMIT_S
    program = ROOT / "src" / "main" / "scala"
    if not program.is_dir():
        raise SystemExit("perfbench: the program's sources (src/main/scala) are missing")
    OUT.mkdir(exist_ok=True)
    jars = sorted(spark_jars().glob("*.jar"))
    jar_names = "\n".join(j.name for j in jars)
    prog, prog_stamp = compile_stage("program", sorted(program.rglob("*.scala")), jars, jar_names,
                                     deadline)
    bench, stamp = compile_stage("bench", sorted((HERE / "src").rglob("*.scala")), [prog] + jars,
                                 prog_stamp, deadline)
    entries = [bench, prog] + jars
    classpath = os.pathsep.join(map(str, entries))
    # the JVM maps the archive only over the very jars it was recorded
    # with (same size and modification time), so those are part of its key
    key = hashlib.sha256(pathlib.Path(__file__).read_bytes())
    for j in entries:
        st = j.stat()
        key.update(f"{j}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    record_archive(classpath, stamp + key.hexdigest(), deadline)
    return classpath, ["-Xshare:on", f"-XX:SharedArchiveFile={ARCHIVE}"]


if __name__ == "__main__":
    print(ensure())
