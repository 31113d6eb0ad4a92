#!/usr/bin/env python3
"""Benchmark launcher.

Run from the root of a checkout:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

The first run in a checkout compiles the engine sources (src/main/scala)
together with the harness (perfbench/src) with sbt, offline, into the build
directory ($CARGO_TARGET_DIR, default .bench_build). Later runs reuse the
classes until a source file changes. Each run is one fresh JVM; its last
stdout line is the result JSON. The launcher exits non-zero, printing no
result, when the engine sources are missing, the build fails, or the JVM
fails or overruns its time limit.
"""
import argparse
import hashlib
import os
import pathlib
import shutil
import subprocess
import sys

WORKLOADS = ("parquet_merge", "tx_cdc", "pipeline_queries")
BUILD_TIMEOUT_S = 700
RUN_TIMEOUT_S = 170

# Spark 4 on JDK 17 outside spark-submit needs these module openings
# (org.apache.spark.launcher.JavaModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def source_digest(root, bench):
    """Hash of every input of the build, to decide whether to rebuild."""
    h = hashlib.sha256()
    files = [bench / "build.sbt", bench / "project" / "build.properties"]
    for d in (root / "src" / "main", bench / "src"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    for p in files:
        h.update(str(p.relative_to(root)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def spark_jars():
    """The Spark installation's jars: $SPARK_HOME/jars, else the jars next to
    the spark-submit on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = pathlib.Path(shutil.which("spark-submit")).resolve().parent.parent
    jars = pathlib.Path(home) / "jars" if home else None
    if jars is None or not jars.is_dir():
        fail("no Spark installation found (set SPARK_HOME)")
    return jars


def build(root, bench, build_dir):
    stamp = build_dir / "build.stamp"
    cp_file = build_dir / "classpath.txt"
    digest = source_digest(root, bench)
    if cp_file.exists() and stamp.exists() and stamp.read_text() == digest:
        return cp_file.read_text().strip()
    env = dict(os.environ)
    env["GRAFTBENCH_TARGET"] = str(build_dir / "sbt-target")
    env["GRAFTBENCH_SPARK_JARS"] = str(spark_jars())
    env.setdefault("COURSIER_MODE", "offline")
    sbt_opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = pathlib.Path.home() / ".sbt" / "repositories"
    if repos.exists():
        sbt_opts += ["-Dsbt.override.build.repos=true",
                     f"-Dsbt.repository.config={repos}"]
    env.setdefault("SBT_OPTS", " ".join(sbt_opts))
    print("[perfbench] building engine + harness with sbt", file=sys.stderr)
    try:
        out = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=bench, env=env, stdout=subprocess.PIPE, stderr=sys.stderr,
            stdin=subprocess.DEVNULL, text=True, timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    sys.stderr.write(out.stdout[-4000:])
    if out.returncode != 0:
        fail(f"build failed (sbt exit {out.returncode})")
    lines = [l for l in out.stdout.splitlines()
             if "sbt-target" in l and not l.startswith("[")]
    if not lines:
        fail("build produced no classpath")
    cp = lines[-1].strip()
    cp_file.write_text(cp)
    stamp.write_text(digest)
    return cp


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--fixtures", default=os.path.expanduser("~/testdata"),
                    help="read-only fixture root holding sf0.1/ and sf0.01/")
    args = ap.parse_args()

    root = pathlib.Path.cwd()
    bench = pathlib.Path(__file__).resolve().parent
    if not (root / "src" / "main" / "scala" / "graft").is_dir():
        fail("engine sources (src/main/scala/graft) not found: run from the "
             "root of a full checkout")
    for sf in ("sf0.1", "sf0.01"):
        if not pathlib.Path(args.fixtures, sf, "lineitem.parquet").exists():
            fail(f"fixtures {args.fixtures}/{sf} not found")
    build_dir = root / os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    build_dir.mkdir(parents=True, exist_ok=True)
    cp = build(root, bench, build_dir)

    work = build_dir / "work" / f"{args.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    cmd = (["java", "-Xms2g", "-Xmx3g", "-XX:+UseG1GC",
            f"-Djava.io.tmpdir={work / 'tmp'}",
            "-Dspark.ui.enabled=false",
            f"-Dderby.system.home={work / 'derby'}"]
           + [f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS]
           + ["-cp", cp, "graftbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--fixtures", args.fixtures, "--work", str(work),
              "--out", str(build_dir / "results")])
    proc = subprocess.Popen(cmd, cwd=root, stdout=subprocess.PIPE,
                            stdin=subprocess.DEVNULL, text=True)
    try:
        stdout, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    shutil.rmtree(work, ignore_errors=True)
    lines = stdout.rstrip("\n").splitlines()
    if proc.returncode != 0 or not lines or not lines[-1].startswith("{"):
        sys.stderr.write(stdout)
        fail(f"benchmark JVM failed (exit {proc.returncode})")
    print("\n".join(lines), flush=True)


if __name__ == "__main__":
    main()
