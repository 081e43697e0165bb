#!/usr/bin/env python3
"""Build the engine from source and run one benchmark workload.

    python3 perfbench/run.py --workload matrix36 --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py selftest --data DIR   # DIR holds sf0.001 events.parquet

Run from the repository root. The engine (src/main/scala) and the harness
(perfbench/scala) are compiled with the Scala compiler that ships in the
Spark distribution's jars, into $CARGO_TARGET_DIR or .bench_build; both
builds are reused while their sources are unchanged. The last line of
standard output is the result JSON; the exit code is non-zero when any
operation or output check failed.
"""
import argparse
import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
HARNESS = ROOT / "perfbench" / "scala"
ENGINE = ROOT / "src" / "main" / "scala"
FIXTURE = ROOT / "perfbench" / "fixture"
BUILD = ROOT / os.environ.get("CARGO_TARGET_DIR", ".bench_build")
WORK = ROOT / ".bench_work"
RESULTS = ROOT / ".bench_results"
RUN_TIMEOUT_S = 175
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_jars():
    """The Spark distribution's jars: $SPARK_HOME/jars, else build.sbt's unmanagedBase."""
    if os.environ.get("SPARK_HOME"):
        d = Path(os.environ["SPARK_HOME"]) / "jars"
    else:
        sbt = ROOT / "build.sbt"
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text()) if sbt.exists() else None
        if not m:
            fail("cannot locate the Spark jars: set SPARK_HOME")
        d = Path(m.group(1))
    if not list(d.glob("scala-compiler-*.jar")):
        fail(f"no Spark jars with a Scala compiler in {d}")
    return d


def sources(d):
    return sorted(d.rglob("*.scala"))


def stamp(files, extra=""):
    h = hashlib.sha256(extra.encode())
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def compile_into(out, files, classpath, jars):
    """scalac `files` into `out`, atomically (a failed build leaves nothing)."""
    tmp = out.with_name(out.name + ".tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    argfile = tmp.with_name(out.name + ".args")
    argfile.write_text("\n".join(str(f) for f in files))
    compiler = ":".join(str(j) for j in sorted(jars.glob("scala-*.jar")))
    cmd = ["java", "-Xss16m", "-Xmx2g", "-cp", compiler, "scala.tools.nsc.Main",
           "-nowarn", "-d", str(tmp), "-classpath", classpath, f"@{argfile}"]
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    argfile.unlink()
    if proc.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        print(proc.stdout[-4000:], file=sys.stderr)
        fail(f"compiling {len(files)} sources into {out.name} failed")
    shutil.rmtree(out, ignore_errors=True)
    tmp.rename(out)


def build():
    """Compile the engine, then the harness against it; return the class path."""
    if not ENGINE.is_dir() or not sources(ENGINE):
        fail("no engine sources at src/main/scala: run from a repository checkout")
    if not HARNESS.is_dir():
        fail("no harness sources at perfbench/scala")
    jars = spark_jars()
    spark_cp = ":".join(str(j) for j in sorted(jars.glob("*.jar")))
    BUILD.mkdir(parents=True, exist_ok=True)
    engine_out, bench_out = BUILD / "engine-classes", BUILD / "bench-classes"
    engine_stamp = stamp(sources(ENGINE), str(jars))
    bench_stamp = stamp(sources(HARNESS), engine_stamp)
    for out, files, cp, want in (
            (engine_out, sources(ENGINE), spark_cp, engine_stamp),
            (bench_out, sources(HARNESS), f"{spark_cp}:{engine_out}", bench_stamp)):
        sf = out.with_name(out.name + ".stamp")
        if not (out.is_dir() and sf.exists() and sf.read_text() == want):
            print(f"perfbench: compiling {out.name} ({len(files)} files)", file=sys.stderr)
            compile_into(out, files, cp, jars)
            sf.write_text(want)
    return f"{jars}/*:{engine_out}:{bench_out}"


def driver_mem():
    """The heap the repository's tier-1 run derives: half of RAM, 2-8 GiB."""
    if os.environ.get("SPARK_DRIVER_MEM"):
        return os.environ["SPARK_DRIVER_MEM"]
    try:
        kb = int(re.search(r"MemTotal:\s+(\d+)", Path("/proc/meminfo").read_text()).group(1))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, AttributeError):
        return "2g"


def jvm(classpath, args, timeout=RUN_TIMEOUT_S):
    tmp = WORK / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    opens = [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd = ["java", *opens, f"-Xmx{driver_mem()}", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           "-cp", classpath, "graft.perfbench.Main", "--work", str(WORK), "--fixture", str(FIXTURE), *args]
    try:
        return subprocess.run(cmd, cwd=ROOT, timeout=timeout).returncode
    except subprocess.TimeoutExpired:
        print(f"perfbench: run exceeded {timeout} s", file=sys.stderr)
        return 124
    finally:
        shutil.rmtree(WORK, ignore_errors=True)


def selftest(classpath, data):
    """noop-plan and golden self-tests, then an injected failing operation
    that must make the benchmark command exit non-zero."""
    results = {
        "noop-plan": jvm(classpath, ["--selftest", "noop-plan"]) == 0,
        "golden": jvm(classpath, ["--selftest", "golden", "--data", data]) == 0,
    }
    code = jvm(classpath, ["--workload", "matrix_pairwise", "--seed", "1", "--seconds", "1", "--trace", "0",
                           "--results", str(WORK / "inject"), "--inject-failure", "ingest"])
    results["inject-failure"] = code == 1
    print(f"selftest inject-failure: {'PASS' if code == 1 else 'FAIL'} (exit code {code}, expected 1)")
    return 0 if all(results.values()) else 1


def main():
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("mode", nargs="?", choices=["run", "selftest"], default="run")
    p.add_argument("--workload")
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=int, default=20)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--results", default=str(RESULTS), help="directory for result records and spans")
    p.add_argument("--data", help="selftest: directory holding the sf0.001 events.parquet")
    p.add_argument("--timeout", type=int, default=RUN_TIMEOUT_S,
                   help="seconds before the run is stopped; the full-size workloads need more")
    a = p.parse_args()
    if a.mode == "selftest":
        if not a.data:
            fail("selftest needs --data DIR")
        cp = build()
        sys.exit(selftest(cp, str(Path(a.data).resolve())))
    if not a.workload:
        fail("--workload is required")
    cp = build()
    sys.exit(jvm(cp, ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                      "--trace", str(a.trace), "--results", str(Path(a.results).resolve())], a.timeout))


if __name__ == "__main__":
    main()
