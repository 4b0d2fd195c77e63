#!/usr/bin/env python3
"""Run one benchmark workload from the root of a checkout.

    python3 perfbench/run.py --workload tidy_star --seed 1 --seconds 20 --trace 0

Builds the harness (an sbt project in this directory that depends on the
repository's root project) once per state of the sources, then runs it in
one JVM. Everything it writes goes under `.bench_build/` in the current
directory. The last line of stdout is the result JSON; build and Spark logs
go to stderr. Exits non-zero, without a result, when the library's sources
are not in the current directory or the build fails.
"""
import hashlib
import os
import pathlib
import subprocess
import sys

HERE = pathlib.Path(__file__).resolve().parent
ROOT = pathlib.Path.cwd().resolve()
WORK = ROOT / ".bench_build"


def source_hash():
    """Hash of everything the harness is built from."""
    h = hashlib.sha256()
    files = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
             HERE / "build.sbt", HERE / "project" / "build.properties"]
    for base in (ROOT / "src" / "main", HERE / "src" / "main"):
        files += sorted(p for p in base.rglob("*") if p.is_file())
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()[:16]


def build():
    """Compile once per source state; returns the java @argfile."""
    args_file = WORK / f"launch-{source_hash()}.args"
    if args_file.exists():
        return args_file
    WORK.mkdir(exist_ok=True)
    env = dict(os.environ, PERFBENCH_ARGS_FILE=str(args_file) + ".tmp")
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
    r = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "writeLaunchArgs"],
                       cwd=HERE, env=env, stdout=sys.stderr, stdin=subprocess.DEVNULL)
    if r.returncode != 0:
        sys.exit(f"perfbench: build failed ({r.returncode})")
    os.replace(str(args_file) + ".tmp", args_file)
    return args_file


def main():
    if not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        sys.exit("perfbench: run from the root of a checkout of the library "
                 "(src/main/scala/graft not found)")
    args_file = build()
    tmp = WORK / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(WORK / "spark-local"))
    cmd = ["java", f"@{args_file}", f"-Djava.io.tmpdir={tmp}",
           "perfbench.Main", "--work", str(WORK)] + sys.argv[1:]
    r = subprocess.run(cmd, cwd=ROOT, env=env, stdin=subprocess.DEVNULL)
    sys.exit(r.returncode)


if __name__ == "__main__":
    main()
